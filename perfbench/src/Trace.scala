package perfbench

import scala.collection.mutable

/** One timed interval. Times are `System.nanoTime`; `kind` is the layer
  * (run, pass, query, build, plan, action, check, release, job, probe). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, var end: Long = -1L)

/** In-memory span recorder. With `on = false` every call is a plain call:
  * no span is kept, so the untraced runs carry no tracing cost. */
final class Trace(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)

  def apply[T](kind: String, name: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, open.head, kind, name, System.nanoTime())
      spans += s
      open = s.id :: open
      try body
      finally { s.end = System.nanoTime(); open = open.tail }
    }

  /** Adds the Spark jobs of one query as child spans: each job hangs under
    * the innermost harness span of that query that contains its start, and
    * is clipped to that parent. Job times are epoch ms from the listener. */
  def addJobs(query: Span, jobs: Seq[(Long, Long)]): Unit = {
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val inQuery = spans.filter(s => s.id == query.id || isUnder(s, query.id))
    jobs.sortBy(_._1).foreach { case (t0, t1) =>
      val a = t0 * 1000000L - offsetNs
      val b = t1 * 1000000L - offsetNs
      val host = inQuery.filter(s => s.kind != "job" && s.start <= a && a < s.end)
        .sortBy(s => s.end - s.start).headOption.getOrElse(query)
      val lo = math.max(a, host.start)
      val hi = math.max(lo, math.min(b, host.end))
      spans += Span(spans.size + 1, host.id, "job", "", lo, hi)
    }
  }

  private def isUnder(s: Span, ancestor: Int): Boolean = {
    var p = s.parent
    while (p != 0 && p != ancestor) p = spans(p - 1).parent
    p == ancestor
  }

  /** Time within `root` covered by at least one descendant of `kind`. */
  def coveredByKind(root: Span, kind: String): Long =
    union(spans.filter(s => s.kind == kind && isUnder(s, root.id))
      .map(s => (math.max(s.start, root.start), math.min(s.end, root.end))).toSeq)

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Self time of every span: its duration minus the union of its
    * children's intervals. */
  def selfTimes(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - union(iv.toSeq))
    }.toMap
  }

  /** Self time by layer over the subtrees rooted at `roots`. Jobs can run
    * concurrently, so the job layer counts the time covered by at least one
    * job of a parent, and the layers of a query then add up to its wall. */
  def selfByKind(roots: Seq[Span]): Map[String, Long] = {
    val self = selfTimes()
    val ids = roots.map(_.id).toSet
    val inside = spans.filter(s => ids(s.id) || ids.exists(isUnder(s, _)))
    val (jobs, rest) = inside.partition(_.kind == "job")
    val jobSelf = jobs.groupBy(_.parent).values.map(js => union(js.map(j => (j.start, j.end)).toSeq)).sum
    rest.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum } + ("job" -> jobSelf)
  }

  def json(t0: Long): String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${s.name}","start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
