package perfbench

import scala.collection.mutable

/** Wall clock in epoch nanoseconds: the monotonic clock anchored once to the
  * epoch, so span times line up with Spark's epoch-millisecond event times.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One timed interval. `parent` is 0 for a root; spans of one pass carry the
  * same `pass`. `name` is the layer (pass, ingest, etl.bronze, query,
  * queries.build, exec, job, plans.analysis, ...), `label` what ran in it.
  */
final case class Span(id: Long, parent: Long, pass: Int, name: String,
                      label: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** A span's duration minus the part of it that its children cover. The
    * children may overlap one another and stick out of the span; each
    * instant of the span is subtracted at most once.
    */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > runEnd) {
        if (runEnd != Long.MinValue) covered += runEnd - runStart
        runStart = s
        runEnd = e
      } else runEnd = math.max(runEnd, e)
    }
    if (runEnd != Long.MinValue) covered += runEnd - runStart
    (end - start) - covered
  }
}

/** Spans kept in memory for the whole run; written out once at the end. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  def newId(): Long = { val id = nextId; nextId += 1; id }

  def add(s: Span): Unit = buf += s

  /** Run `f` inside a new span; `f` receives the span id. */
  def span[T](parent: Long, pass: Int, name: String, label: String)(f: Long => T): T = {
    val id = newId()
    val start = Clock.nowNs
    try f(id)
    finally buf += Span(id, parent, pass, name, label, start, Clock.nowNs)
  }

  def spans: Seq[Span] = buf.toSeq

  /** `root` and every span below it. */
  def subtree(root: Long): Seq[Span] = {
    val byParent = buf.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    def walk(id: Long): Unit = byParent.getOrElse(id, Nil).foreach { s =>
      out += s
      walk(s.id)
    }
    buf.find(_.id == root).foreach(out += _)
    walk(root)
    out.toSeq
  }
}
