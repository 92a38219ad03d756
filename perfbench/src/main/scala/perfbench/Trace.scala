package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is 0 for the operation's root span. Times are
  * `System.nanoTime` values. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    layer: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are recorded from the benchmark's own
  * code around the calls into each layer of the program; a disabled
  * tracer runs the bodies and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  /** nanoTime minus wall-clock nanos, to place epoch-millisecond stamps
    * taken by Spark on the span clock. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def epochMsToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  /** Runs `body` as the root span of a new operation. */
  def op[A](name: String)(body: => A): A = withSpan(name, "op", root = true)(body)

  /** Runs `body` as a child span of the innermost open span. */
  def span[A](name: String, layer: String)(body: => A): A =
    withSpan(name, layer, root = false)(body)

  private def withSpan[A](name: String, layer: String, root: Boolean)(body: => A): A =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val op = if (root || outer.isEmpty) id else outer.head.op
      val parent = if (root || outer.isEmpty) 0L else outer.head.id
      val open = Span(op, id, parent, name, layer, System.nanoTime(), 0L)
      stack.set(open :: outer)
      try body
      finally {
        stack.set(outer)
        record(open.copy(end = System.nanoTime()))
      }
    }

  /** Records a span timed elsewhere. */
  def record(s: Span): Unit = synchronized { spans += s }

  def newId(): Long = ids.incrementAndGet()

  def all: Seq[Span] = synchronized(spans.toList)

  /** Places externally timed intervals (name, layer, start, end) under
    * the deepest recorded span that contains each one's midpoint,
    * clipped to that span. The midpoint, not the start, picks the span
    * because the intervals come with millisecond stamps: a start
    * truncated to the millisecond can fall just before the span the
    * interval ran in. Intervals that fall in no span are dropped. */
  def attach(intervals: Seq[(String, String, Long, Long)]): Unit = {
    val hosts = all
    val byId = hosts.map(x => x.id -> x).toMap
    def depth(s: Span): Int = Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
      .takeWhile(_.isDefined).length
    val sorted = hosts.sortBy(_.start).toIndexedSeq
    intervals.foreach { case (name, layer, start, end) =>
      val mid = start + (end - start) / 2
      val host = sorted.takeWhile(_.start <= mid).filter(mid < _.end)
      if (host.nonEmpty) {
        val deepest = host.maxBy(s => (depth(s), -s.dur))
        record(Span(deepest.op, newId(), deepest.id, name, layer,
          math.max(start, deepest.start), math.min(end, deepest.end)))
      }
    }
  }
}

object Tracer {
  /** Runs `body` with tracing off, then restores the context's tracer. */
  def disabled[A](ctx: Ctx)(body: => A): A = {
    val t = ctx.tracer
    ctx.tracer = new Tracer(false)
    try body finally ctx.tracer = t
  }
}

object Trace {

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Self time summed per layer, in nanoseconds. Root spans are the
    * operations themselves and are reported under "op". */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Percent of operation time that no layer span covers: the self time
    * of the spans of layer "op" (the roots, and structural spans inside
    * them that name no layer), plus (for back-to-back operations) the
    * wall of the phase outside every root. */
  def unattributedPct(spans: Seq[Span], wallNs: Long, countGaps: Boolean): Double = {
    val roots = spans.filter(_.parent == 0L)
    val self = selfTimes(spans)
    val opSelf = spans.filter(_.layer == "op").map(s => self(s.id)).sum
    val rootTotal = roots.map(_.dur).sum
    val gap = if (countGaps)
      math.max(0L, wallNs - Stats.unionLength(roots.map(s => (s.start, s.end)))) else 0L
    if (rootTotal + gap == 0L) 0.0 else 100.0 * (opSelf + gap) / (rootTotal + gap)
  }

  def toJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.sortBy(s => (s.op, s.start)).map { s =>
    Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)
  }
}
