package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded interval at a layer boundary. Times are `System.nanoTime`
  * values; `trace` groups the spans of one unit of work (a micro-batch id
  * for the streaming workloads, a query name for `ops`). */
final case class Span(id: Long, name: String, trace: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Nothing is written while a workload runs:
  * spans queue here and [[Tracer.write]] emits them, with self times,
  * when the run ends. Recording is off unless [[Tracer.enabled]] is set,
  * so the untraced half of a traced run pays one volatile read per
  * boundary. */
object Tracer {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(name: String, trace: String, parent: Long,
             startNs: Long, endNs: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, trace, parent, startNs, endNs))
    id
  }

  /** Run `body` and, when tracing, record it as a span. */
  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, trace, 0L, t0, System.nanoTime())
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (overlapping children are merged, and
    * each is clipped to the parent's interval). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.filter(_.parent != 0L).groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Give every span recorded without a parent the innermost other span
    * of its trace whose interval contains its start: a bus call inside the
    * micro-batch component it ran in, a Spark job inside the query phase
    * that submitted it. */
  def adopt(all: Seq[Span]): Seq[Span] = {
    val byTrace = all.groupBy(_.trace)
    all.map { s =>
      if (s.parent != 0L) s
      else {
        val hosts = byTrace(s.trace).filter(h => h.id != s.id && h.startNs <= s.startNs &&
          s.startNs < h.endNs && h.durNs > s.durNs)
        if (hosts.isEmpty) s else s.copy(parent = hosts.minBy(_.durNs).id)
      }
    }
  }

  /** Write every span as one JSON line (times in ms from the first span)
    * and return the total self time per span name. */
  def write(path: java.nio.file.Path): Map[String, Double] = {
    val ss = adopt(all).sortBy(_.startNs)
    val self = selfTimes(ss)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","trace":"${s.trace}","parent":${s.parent},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id) / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ss.groupBy(_.name).map { case (n, g) => n -> g.map(s => self(s.id)).sum / 1e6 }
  }
}
