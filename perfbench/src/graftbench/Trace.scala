package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span recorder. Spans are recorded only while `on`; they
  * are kept in memory and written out once, at the end of the process.
  * A span names its layer, so per-layer self time (duration minus the
  * part covered by child spans) can be summed by layer.
  */
object Trace {
  final case class Span(id: Long, parent: Long, layer: String,
      name: String, startNs: Long, endNs: Long)

  @volatile var on = false
  /** Publishes the current span id to Spark's job group, so a job's
    * span is parented to the span that submitted it. */
  @volatile var publish: Long => Unit = _ => ()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def newId(): Long = ids.incrementAndGet()
  def currentId: Long = current.get()

  // time the tracer spends on its own bookkeeping, summed over threads
  private val bookNs = new AtomicLong(0)
  def bookkeepingS: Double = bookNs.get() / 1e9

  def record(s: Span): Unit = if (on) {
    val a = System.nanoTime()
    spans.add(s)
    bookNs.addAndGet(System.nanoTime() - a)
  }

  /** Run `body` as a child span of the calling thread's current span. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val a = System.nanoTime()
      val id = newId()
      val parent = current.get()
      current.set(id)
      publish(id)
      val t0 = System.nanoTime()
      bookNs.addAndGet(t0 - a)
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        publish(parent)
        spans.add(Span(id, parent, layer, name, t0, t1))
        bookNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spans recorded on task threads carry `-(stageId + 1)` as parent;
    * map them onto their job's span once the listener has seen every
    * job start.
    */
  def resolve(stageToJobSpan: Long => Long): Unit = {
    val fixed = all.map(s =>
      if (s.parent < 0) s.copy(parent = stageToJobSpan(-s.parent - 1)) else s)
    spans.clear()
    fixed.foreach(spans.add)
  }

  /** Self time per layer in ms over the given spans: each span's
    * duration minus the union of its children's intervals (clipped to
    * the span).
    */
  def selfMs(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (cs, ce) = (Long.MinValue, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""")
        .append(s""""name":"${s.name.replace("\"", "'")}","start_ns":${s.startNs},""")
        .append(s""""end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
