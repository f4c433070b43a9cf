package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call at a layer boundary. `parent` is 0 for a root span; spans
  * of one request or micro-batch share `req` (-1 when there is none).
  */
final case class Span(id: Long, parent: Long, name: String, req: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled (the untraced run) it only evaluates
  * the body; enabled, it keeps every span until [[write]] at the end of the
  * run, so nothing is written while the benchmark measures.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Times `f` as a span named `name`, child of the innermost open span on
    * this thread.
    */
  def span[T](name: String, req: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val open = stack.get()
      val p = open.headOption.getOrElse(0L)
      stack.set(id :: open)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(open)
        spans.add(Span(id, p, name, req, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Cost of recording one span on this thread, in ns: the median of five
    * timed loops of empty spans. The spans it records are removed again.
    */
  def costNs(): Double = {
    val n = 100000
    val was = enabled
    enabled = true
    val xs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { span("trace.cost")(()); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    enabled = was
    spans.removeIf(_.name == "trace.cost")
    Stats.median(xs)
  }

  def reset(): Unit = spans.clear()

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children. Children may overlap each other (work fanned
    * out to threads); the covered part is the union of their intervals,
    * clipped to the parent's.
    */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Median self time in ms of the spans named `name`, 0 when there are none. */
  def medianSelfMs(all: Seq[Span], self: Map[Long, Long], name: String): Double = {
    val xs = all.filter(_.name == name).map(s => self(s.id) / 1e6)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Median duration in ms of the spans named `name`, 0 when there are none. */
  def medianMs(all: Seq[Span], name: String): Double = {
    val xs = all.filter(_.name == name).map(_.durNs / 1e6)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Writes every span as one JSON object per line. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
