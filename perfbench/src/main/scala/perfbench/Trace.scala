package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call. `parent` is 0 for a root; spans of one item share
  * `trace`. Times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, trace: Long, layer: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans around the benchmark's calls into each layer, plus Spark stage
  * spans from the listener as their children. Kept in memory; written
  * once at exit. Timing happens whether or not spans are kept, so the
  * untraced run measures the same intervals without recording them.
  */
final class Trace {
  @volatile var on: Boolean = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val traceOf = new ConcurrentHashMap[Long, Long]()
  private val groupSpan = new ConcurrentHashMap[String, Long]()
  private var stack: List[Long] = Nil
  private var traceId = 0L
  // epoch-millis stage times from the listener, mapped onto nanoTime
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  def current: Long = stack.headOption.getOrElse(0L)

  /** Start a new item: later spans carry a fresh trace id. */
  def newItem(): Unit = traceId += 1

  /** Run `body` as a span; returns its value and duration in ns. The
    * span id is published to `publish` (a Spark local property) so jobs
    * submitted inside can name it as their owner.
    */
  def span[T](layer: String, name: String, publish: Long => Unit = _ => ())(
      body: => T): (T, Long) = {
    val id = ids.incrementAndGet()
    val parent = current
    stack = id :: stack
    publish(id)
    if (on) traceOf.put(id, traceId)
    val t0 = System.nanoTime()
    try {
      val v = body
      val t1 = System.nanoTime()
      if (on) spans.add(Span(id, parent, traceId, layer, name, t0, t1))
      (v, t1 - t0)
    } catch {
      case e: Throwable =>
        if (on) spans.add(Span(id, parent, traceId, layer, name + " !failed",
          t0, System.nanoTime()))
        throw e
    } finally {
      stack = stack.tail
      publish(current)
    }
  }

  /** Jobs of a MapReduce handle run on the engine's own threads; they are
    * attributed through their job group instead of a local property.
    */
  def bindGroup(group: String, span: Long): Unit = groupSpan.put(group, span)
  def spanOfGroup(group: String): Long = groupSpan.getOrDefault(group, 0L)

  def msToNano(ms: Long): Long = nano0 + (ms * 1000000L - epochNs0)

  def stage(owner: Long, name: String, startMs: Long, endMs: Long): Unit =
    if (on && owner != 0L)
      spans.add(Span(ids.incrementAndGet(), owner,
        traceOf.getOrDefault(owner, 0L), "stage", name, msToNano(startMs),
        msToNano(endMs)))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time in ns: a span's duration minus the part of it
    * its children cover. Stage spans overlap one another, so a parent's
    * stage children count once as the union of their intervals, charged
    * to the `exec` layer.
    */
  def selfTimes(): Map[String, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val out = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    ss.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil)
      val covered = Trace.union(cs.map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      if (s.layer != "stage") out(s.layer) += s.dur - covered
      val stageUnion = Trace.union(cs.filter(_.layer == "stage").map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      out("exec") += stageUnion
    }
    out.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},"start_ns":${s.start - nano0},"end_ns":${s.end - nano0}}"""
      sb += '\n'
    }
    java.nio.file.Files.writeString(path, sb.result())
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
