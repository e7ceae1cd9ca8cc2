package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One clock for every span: epoch nanoseconds derived from a single
  * nanoTime origin, so bench-recorded spans and the millisecond
  * timestamps Spark's listeners report land on the same axis.
  */
object Clock {
  private val originWallNs = System.currentTimeMillis() * 1000000L
  private val originNano = System.nanoTime()
  def now(): Long = originWallNs + (System.nanoTime() - originNano)
  def ofMillis(ms: Long): Long = ms * 1000000L
}

/** An interval spent in one layer on behalf of one op. `name` is
  * `<layer>.<call>`; the layer is everything before the first dot.
  */
final case class Span(id: Long, name: String, op: String, parent: Long,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Spans recorded around the benchmark's own calls into each layer. They
  * stay in memory and are written out once, when the run ends. While
  * `on` is false, [[span]] is a plain call.
  */
final class Tracer {
  @volatile var on: Boolean = false
  private val buf = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, op: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Clock.now()
      try body
      finally {
        val t1 = Clock.now()
        stack.set(stack.get.tail)
        add(Span(id, name, op, parent, t0, t1))
      }
    }

  /** a span known only after the fact (listener-reported intervals). */
  def record(name: String, op: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = ids.getAndIncrement()
    add(Span(id, name, op, parent, startNs, endNs))
    id
  }

  private def add(s: Span): Unit = buf.synchronized { buf += s }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** replace the parent of matching spans (for spans recorded on a thread
    * whose enclosing span is reconstructed later).
    */
  def reparent(p: Span => Boolean, parent: Long): Unit = buf.synchronized {
    buf.indices.foreach(i => if (p(buf(i))) buf(i) = buf(i).copy(parent = parent))
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","op":"${s.op}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Self time per layer, in ns: each span's duration minus the part of
    * its interval that its children cover (overlapping children counted
    * once, children clipped to the parent).
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        ivs.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        s.durNs - covered
      }.sum
    }
  }

  /** innermost span of `op` whose interval holds [startNs, endNs] within
    * `slackNs` (listener times are whole milliseconds), else 0.
    */
  def enclosing(spans: Seq[Span], op: String, startNs: Long, endNs: Long,
      slackNs: Long): Long = {
    val holders = spans.filter(s => s.op == op &&
      s.startNs - slackNs <= startNs && endNs <= s.endNs + slackNs)
    if (holders.isEmpty) 0L else holders.minBy(_.durNs).id
  }
}
