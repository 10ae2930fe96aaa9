package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional where measured with the monotonic clock). `parent` is the
  * id of the innermost enclosing span of the same request, 0 for none. */
final case class Span(id: Long, layer: String, name: String, request: String,
    startMs: Double, endMs: Double, parent: Long = 0L) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Spans are kept in memory while the benchmark
  * runs and written out once at the end. When `enabled` is false every
  * call is a no-op, so untraced runs pay nothing for it. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Epoch ms now, from the monotonic clock anchored once at start. */
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def record(layer: String, name: String, request: String,
      startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), layer, name, request,
      startMs, endMs))

  def span[T](layer: String, name: String, request: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = nowMs
      try body finally record(layer, name, request, t0, nowMs)
    }

  /** All spans with parents linked: the parent is the shortest other span
    * of the same request whose interval contains this one. Spans taken
    * from Spark's events carry whole milliseconds, hence the tolerance. */
  def linked: Seq[Span] = {
    val all = spans.asScala.toSeq
    val tol = 2.0
    all.groupBy(_.request).values.flatMap { group =>
      group.map { s =>
        val enclosing = group.filter(p => p.id != s.id &&
          p.startMs <= s.startMs + tol && p.endMs >= s.endMs - tol &&
          (p.ms > s.ms || (p.ms == s.ms && p.id < s.id)))
        if (enclosing.isEmpty) s else s.copy(parent = enclosing.minBy(_.ms).id)
      }
    }.toSeq.sortBy(_.startMs)
  }

  /** Per-layer self time, ms: each span's duration minus the part of it
    * that its child spans cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val children = all.filter(_.parent != 0).groupBy(_.parent)
    all.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.layer -> math.max(0.0, s.ms - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Write the spans as JSON lines, once, at the end of the run. */
  def write(path: String, all: Seq[Span]): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try all.foreach(s => out.println(Main.json.writeValueAsString(Map(
      "id" -> s.id, "layer" -> s.layer, "name" -> s.name,
      "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "parent" -> s.parent))))
    finally out.close()
  }
}
