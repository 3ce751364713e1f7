package perfbench

import java.nio.file.{Files, Path}

/** One span: a timed call into a layer. Times are nanoseconds from the
  * JVM's monotonic clock; `parent` is -1 for a root.
  */
case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, runId: String) {
  def duration: Long = end - start
}

/** Records spans in memory around calls into the program's layers and
  * writes them out when the run ends. When disabled it only runs the body,
  * so untraced runs pay nothing but a branch.
  */
class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, runId)
        stack = stack.tail
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"run_id":"${s.runId}","id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.duration - covered)
    }.toMap
  }
}
