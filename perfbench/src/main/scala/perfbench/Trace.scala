package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed call into a layer. `parent` is 0 for a top-level span; spans
  * of one query share `qid`.
  */
final case class Span(id: Long, parent: Long, name: String, qid: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records spans around the benchmark's own calls into each layer. Spans
  * stay in memory until [[take]] hands them over. While `enabled` is off,
  * [[apply]] only runs its body.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val ctx = ThreadLocal.withInitial[(List[Long], String)](() => (Nil, ""))

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved @ (parents, qid) = ctx.get
      val id = ids.getAndIncrement()
      ctx.set((id :: parents, qid))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, qid, t0, System.nanoTime()))
        ctx.set(saved)
      }
    }

  /** The innermost open span on this thread and its query id, to be
    * adopted by work this thread hands to another.
    */
  def current: (Long, String) = { val (ps, q) = ctx.get; (ps.headOption.getOrElse(0L), q) }

  /** Runs `body` with `parent` as its open span and `qid` as its query id. */
  def within[T](parent: Long, qid: String)(body: => T): T = {
    val saved = ctx.get
    ctx.set((if (parent == 0L) Nil else List(parent), qid))
    try body finally ctx.set(saved)
  }

  /** Removes and returns the spans recorded so far. */
  def take(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result()
  }
}

object Tracer {

  /** Per span name, the summed self time: each span's duration minus the
    * part of it that its child spans cover. Children may overlap each other
    * (they can run on other threads), so their union is subtracted.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.dur - covered(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  private def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
