package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded interval. Times are `System.nanoTime` values; `parent` is
  * the id of the span that was open on the same thread when this one
  * started (0 = none); `op` is the benchmark operation it belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans are kept in a
  * lock-free queue and written out once, when the run ends. With
  * `enabled` off, `span` is a plain call-through.
  */
object Trace {
  @volatile var enabled: Boolean = false

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  // listener events carry epoch-millisecond stamps; this maps them onto
  // the nanoTime axis the in-process spans use
  private val epochToNano =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNano

  /** Run `body` as operation `op` on this thread. */
  def withOp[T](op: Long)(body: => T): T = {
    val prev = opOf.get()
    opOf.set(op)
    try body finally opOf.set(prev)
  }

  /** Time `body` as span `name`, nested under this thread's open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0L), opOf.get(), name,
          t0, t1))
      }
    }

  /** Record an interval measured elsewhere (listener callbacks, which
    * arrive after the fact, so this does not look at `enabled`).
    */
  def record(name: String, op: Long, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), 0L, op, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Write every span as one JSON object per line. */
  def dump(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }

  /** Layer self time inside `[from, to)`: each instant is charged to the
    * innermost span covering it (deepest layer, then latest start), so
    * the per-layer totals add up to `to - from` exactly. Instants no
    * span covers are charged to `rootLayer`.
    */
  def selfTimes(from: Long, to: Long, within: Seq[Span],
      rootLayer: String): Map[String, Double] = {
    val inside = within.filter(s => s.endNs > from && s.startNs < to)
      .map(s => s.copy(startNs = math.max(s.startNs, from),
        endNs = math.min(s.endNs, to)))
    val cuts = (inside.flatMap(s => Seq(s.startNs, s.endNs)) ++ Seq(from, to))
      .distinct.sorted
    val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val covering = inside.filter(s => s.startNs <= a && s.endNs >= b)
        val layer =
          if (covering.isEmpty) rootLayer
          else covering.maxBy(s => (depth(s.layer), s.startNs)).layer
        acc(layer) += (b - a) / 1e9
      case _ =>
    }
    acc.toMap
  }

  // nesting order of the layers: an engine job runs inside whatever
  // module called it, and transport calls are leaves of the modules
  private def depth(layer: String): Int = layer match {
    case "spark" => 3
    case "sources" => 2
    case _ => 1
  }
}
