package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  /** Linear-interpolated quantile `q` in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Maps wall-clock milliseconds (Spark event times) onto the
  * `System.nanoTime` scale the spans use. */
object Clock {
  private val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
  def nanosOf(epochMs: Long): Long = ns0 + (epochMs - ms0) * 1000000L
}

/** Streaming layer, from outside: keeps every micro-batch's progress
  * while tracing and turns each into spans — the trigger, and its
  * `durationMs` components laid end to end in execution order (offset
  * discovery, offset WAL write, source batch, planning, sink, commit
  * log). The remainder of the trigger is the `other` component. */
final class StreamCollector extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Tracer.enabled && e.progress.numInputRows > 0) {
      val p = e.progress
      progress.add(p)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val t0 = Clock.nanosOf(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val trace = p.batchId.toString
      val root = Tracer.record("streaming.trigger", trace, 0L, t0,
        t0 + d.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = t0
      StreamCollector.components.foreach { case (key, _) =>
        val ms = d.getOrElse(key, 0L)
        Tracer.record(s"streaming.$key", trace, root, at, at + ms * 1000000L)
        at += ms * 1000000L
      }
    }

  def batches: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Components of the batch whose trigger time is the median, so that
    * they sum, with `other`, to the reported trigger p50 exactly. */
  def medianBatch: Map[String, Double] = {
    val bs = batches.sortBy(_.durationMs.get("triggerExecution").longValue)
    if (bs.isEmpty) Map.empty
    else {
      val d = bs(bs.size / 2).durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val trig = d.getOrElse("triggerExecution", 0.0)
      val parts = StreamCollector.components.map { case (k, n) => n -> d.getOrElse(k, 0.0) }
      (parts :+ ("other" -> (trig - parts.map(_._2).sum))).toMap + ("trigger" -> trig)
    }
  }
}

object StreamCollector {
  /** `durationMs` keys in execution order, with their metric names. */
  val components: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
    "getBatch" -> "get_batch", "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit_offsets")
}

/** Spark execution layer, from outside: task metrics while tracing,
  * attributed to the `perfbench.query` job property when one is set,
  * and one span per job. */
final class TaskCollector extends SparkListener {
  final class Agg {
    var tasks, cpuNs, runMs, shuffleWrite, gcMs = 0L
  }
  val total = new Agg
  val byQuery = mutable.Map[String, Agg]()
  private val stageQuery = mutable.Map[Int, String]()
  private val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobStart = mutable.Map[Int, (Long, String)]()

  private def traceOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.query"))
      .orElse(Option(p.getProperty("streaming.sql.batchId")))).getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Tracer.enabled) {
      val trace = traceOf(e.properties)
      e.stageIds.foreach(stageQuery(_) = trace)
      jobStart(e.jobId) = (e.time, trace)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, trace) =>
      Tracer.record("spark.job", trace, 0L, Clock.nanosOf(t0), Clock.nanosOf(e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (Tracer.enabled && m != null) {
      val aggs = Seq(total) ++ stageQuery.get(e.stageId)
        .map(q => byQuery.getOrElseUpdate(q, new Agg))
      aggs.foreach { a =>
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.gcMs += m.jvmGCTime
      }
      stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        e.taskInfo.duration
    }
  }

  /** Longest over median task duration, maximum over stages of at least
    * two tasks (1.0 when no stage qualifies). */
  def skewMax: Double = synchronized {
    val ratios = stageDurations.values.filter(_.size >= 2).map { ds =>
      ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Host CPU accounting from `/proc` and the JVM: how much of the
  * machine the run got, and how much of the process's CPU time went to
  * the pipeline. Steal is time the hypervisor gave to other guests while
  * this one had work. */
object Host {
  final case class Sample(wallNs: Long, procCpuNs: Long, pipeCpuNs: Long, busy: Long,
                          steal: Long, total: Long)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM, in nanoseconds. */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Threads whose CPU time is not the pipeline's: the JVM's own JIT
    * compiler, garbage collector and service threads, and the benchmark's
    * main, reader and generator threads (names as `/proc` shows them, cut
    * to 15 characters). */
  private val notPipeline =
    "C[12] CompilerThre|GC Thread#\\d+|G1 .*|VM .*|Sweeper thread|perfbench-.*|java".r

  /** Clock ticks of `/proc/.../stat`: utime + stime. */
  private def ticks(stat: String): Long = {
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }
  private def read(path: java.nio.file.Path): String =
    try new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    catch { case _: java.io.IOException => "" }

  /** CPU time of Spark's and the pipeline's threads, in nanoseconds: the
    * process's CPU time (exited threads included) less that of the live
    * threads [[notPipeline]] names. The JVM runs with a fixed set of
    * compiler threads, so none of them exits between two samples. */
  def pipelineCpuNs(): Long = {
    val self = java.nio.file.Paths.get("/proc/self")
    val tasks = java.nio.file.Files.list(self.resolve("task"))
    val excluded = try tasks.iterator.asScala.map(t => read(t.resolve("stat")))
      .filter(s => s.nonEmpty &&
        notPipeline.matches(s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))))
      .map(ticks).sum
    finally tasks.close()
    // USER_HZ is 100 on Linux
    (ticks(read(self.resolve("stat"))) - excluded) * 10000000L
  }

  def sample(): Sample = {
    val f = try scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1)
      .map(_.toLong) catch { case _: Throwable => Array.fill(8)(0L) }
    Sample(System.nanoTime(), processCpuNs(), pipelineCpuNs(), f(0) + f(1) + f(2), f(7),
      f.take(8).sum)
  }
  /** Share of all CPU time between two samples that the host stole. */
  def stealShare(a: Sample, b: Sample): Double =
    (b.steal - a.steal).toDouble / math.max(1L, b.total - a.total)

  /** The half (rounded up) of `xs` with the least host steal. Steal is
    * time other guests of the host took from this one; it comes in bursts
    * of seconds to minutes that slow every layer at once, so each run
    * reports the program's speed from its quieter half. */
  def quietest[T](xs: Seq[T])(steal: T => Double): Seq[T] =
    xs.sortBy(steal).take((xs.size + 1) / 2)

  def describe(a: Sample, b: Sample): String = {
    val total = math.max(1L, b.total - a.total).toDouble
    f"host: steal ${(b.steal - a.steal) / total * 100}%.1f%%, busy ${(b.busy - a.busy) / total * 100}%.1f%%, " +
      f"process cpu ${(b.procCpuNs - a.procCpuNs) / 1e9}%.1f s (pipeline ${(b.pipeCpuNs - a.pipeCpuNs) / 1e9}%.1f s) " +
      f"over ${(b.wallNs - a.wallNs) / 1e9}%.1f s wall"
  }
}
