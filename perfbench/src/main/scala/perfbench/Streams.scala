package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.InMemoryBus
import graft.streaming.{JsonSerde, Pipeline}

/** The downstream consumer: one thread polling a subscription of the
  * output topic and stamping the first time it sees each message id.
  * It talks to the bus directly, so its calls never show in the
  * `sources.*` counters of the pipeline under test. `sample` runs after
  * every poll (the backlog sampler of `steady`). */
final class Reader(sub: String, pollMs: Long, sample: Long => Unit = _ => ())
    extends Thread("perfbench-reader") {
  setDaemon(true)
  val seen = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  @volatile private var running = true
  @volatile var count = 0L
  private var offset = 0L

  override def run(): Unit =
    while (running) {
      val end = InMemoryBus.endOffset(sub)
      val now = System.nanoTime()
      if (end > offset) {
        InMemoryBus.read(sub, offset, end).foreach { m =>
          seen.putIfAbsent(Payload.idOf(m.data), now)
        }
        offset = end
        count = seen.size.toLong
      }
      sample(now)
      Thread.sleep(pollMs)
    }

  def finish(): Unit = { running = false; join() }
}

/** Fresh topics and subscriptions for one pipeline run. */
final case class Topics(tag: String) {
  val (in, inSub, out, outSub) = (s"$tag-in", s"$tag-in-sub", s"$tag-out", s"$tag-out-sub")
  InMemoryBus.createTopic(in); InMemoryBus.createSubscription(in, inSub)
  InMemoryBus.createTopic(out); InMemoryBus.createSubscription(out, outSub)
}

/** `drain`: a pre-published backlog through `Pipeline(JsonSerde, projection,
  * plain publish)` with `availableNow`, a few large batches per run. */
object Drain {
  val BacklogMsgs = 60000
  val BulkLimit = 20000
  val MaxWarmS = 35.0
  /** The warm-up ramp: the first drain of a fresh JVM runs at a few
    * thousand messages a second, so it is kept small. */
  val ColdMsgs = 2000
  val RampDrains = 6

  final case class One(secs: Double, cpuS: Double, pipeCpuS: Double, batches: Int,
                       steal: Double, latenciesMs: Seq[Double], check: StreamCheck) {
    def throughput: Double = check.attempted / secs
    def cpuMsPerKmsg: Double = cpuS * 1e6 / check.attempted
    def cpuMsPerBatch: Double = cpuS * 1e3 / math.max(1, batches)
    def pipeCpuMsPerBatch: Double = pipeCpuS * 1e3 / math.max(1, batches)
    def pipeCpuMsPerKmsg: Double = pipeCpuS * 1e6 / check.attempted
  }

  private var runs = 0

  def once(spark: SparkSession, ctx: Ctx, rnd: java.util.Random, n: Int,
           busSpec: String, idempotent: Boolean = false): One = {
    runs += 1
    val t = Topics(s"drain-$runs")
    val msgs = Payload.backlog(rnd, runs.toLong * 10000000L, n)
    msgs.grouped(4096).foreach(c => InMemoryBus.publishBatch(t.in, c.map(_.bytes)))
    Payload.baseNanos = System.nanoTime()
    val pipe = new Pipeline(spark, t.inSub, t.out, JsonSerde(Payload.schema),
      Payload.transform, ctx.dir(s"ckpt/drain-$runs"), bulkLimit = BulkLimit,
      idempotent = idempotent, busSpec = busSpec)
    val reader = new Reader(t.outSub, 2L)
    reader.start()
    val h0 = Host.sample()
    val t0 = h0.wallNs
    val q = pipe.start(availableNow = true)
    q.awaitTermination(120000L)
    val deadline = System.nanoTime() + 30000000000L
    while ((InMemoryBus.committedOffset(t.inSub) < n || reader.count < n) &&
        System.nanoTime() < deadline) LockSupport.parkNanos(200000L)
    val h1 = Host.sample()
    val t1 = h1.wallNs
    reader.finish()
    if (q.isActive) q.stop()
    q.exception.foreach(e => System.err.println(s"[perfbench] drain query failed: $e"))
    val check = Checks.stream(msgs, InMemoryBus.payloads(t.outSub),
      InMemoryBus.committedOffset(t.inSub))
    val lat = msgs.flatMap(m => Option(reader.seen.get(m.id)).map(s => (s - t0) / 1e6))
    // drop the drained topics: keeps the live heap, and so GC work, flat
    // from drain to drain (every query has stopped and acked by now)
    InMemoryBus.reset()
    One((t1 - t0) / 1e9, (h1.procCpuNs - h0.procCpuNs) / 1e9, (h1.pipeCpuNs - h0.pipeCpuNs) / 1e9,
      q.recentProgress.count(_.numInputRows > 0), Host.stealShare(h0, h1), lat, check)
  }

  /** Drains until `seconds` have passed, at least three. */
  def measure(spark: SparkSession, ctx: Ctx, rnd: java.util.Random, busSpec: String,
              seconds: Double): Seq[One] = {
    val out = mutable.ArrayBuffer[One]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (out.size < 3 || System.nanoTime() < end)
      out += once(spark, ctx, rnd, BacklogMsgs, busSpec)
    out.toSeq
  }

  /** Medians over the half of the drains during which the host stole the
    * least CPU time (see [[Host.quietest]]). */
  def summary(all: Seq[One]): Map[String, Double] = {
    val ds = Host.quietest(all)(_.steal)
    Map(
      "pipeline_cpu_ms_per_batch" -> Stats.median(ds.map(_.pipeCpuMsPerBatch)),
      "cpu_ms_per_batch" -> Stats.median(ds.map(_.cpuMsPerBatch)),
      "cpu_ms_per_kmsg" -> Stats.median(ds.map(_.cpuMsPerKmsg)),
      "throughput_msgs_per_s" -> Stats.median(ds.map(_.throughput)),
      "latency_p50_ms" -> Stats.median(ds.map(d => Stats.quantile(d.latenciesMs, 0.5))),
      "latency.p90_ms" -> Stats.median(ds.map(d => Stats.quantile(d.latenciesMs, 0.9))))
  }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val rnd = new java.util.Random(ctx.seed)
    val busSpec = if (ctx.trace) TimedBus.spec else "memory"
    // a ramp of fixed work takes the cold JVM past its steepest part: one
    // small drain, then short ones. Full-size drains follow, at least six,
    // until three in a row no longer cost 3 % less pipeline CPU per message
    // than the cheapest full-size drain before them, for at most `MaxWarmS`
    // in all
    val warm = mutable.ArrayBuffer[One]()
    val warmEnd = System.nanoTime() + (MaxWarmS * 1e9).toLong
    (ColdMsgs +: Seq.fill(RampDrains)(BulkLimit)).foreach(n => warm += once(spark, ctx, rnd, n, busSpec))
    val from = warm.size
    def falling: Boolean = {
      val c = warm.drop(from).map(_.pipeCpuMsPerKmsg)
      c.size < 6 || 1.03 * c.takeRight(3).min < c.dropRight(3).min
    }
    while (falling && System.nanoTime() < warmEnd) warm += once(spark, ctx, rnd, BacklogMsgs, busSpec)
    val converged = !falling
    val setupS = ctx.sinceLaunchS
    ctx.log(s"drain warm-up ${if (converged) "converged" else "CAPPED"}: ${warm.size} drains, " +
      warm.map(d => f"${d.pipeCpuMsPerKmsg}%.1f").mkString(" ") + " pipeline cpu ms/kmsg")
    val st0 = Host.sample()
    val plain = measure(spark, ctx, rnd, busSpec, ctx.seconds)
    ctx.log(Host.describe(st0, Host.sample()))
    val e2e = summary(plain) + ("setup_s" -> setupS)
    ctx.log(s"drain untraced: ${plain.size} drains of $BacklogMsgs msgs, " +
      plain.map(d => f"${d.throughput}%.0f msgs/s ${d.pipeCpuMsPerBatch}%.0f ms/batch (steal ${d.steal * 100}%.1f%%)")
        .mkString(", "))
    val checks = (warm ++ plain).map(_.check).toSeq
    if (!ctx.trace) Outcome(checks, e2e, Map.empty)
    else {
      val traced = Traced.capture(spark, ctx) {
        measure(spark, ctx, rnd, busSpec, ctx.seconds)
      }
      val streams = Main.extras(e2e) ++ Traced.streamLayers(traced.stats) ++
        Traced.overhead(e2e, summary(traced.value) + ("setup_s" -> setupS)) ++
        Serde.timing(spark, Payload.backlog(new java.util.Random(ctx.seed), 0L, 200000)) +
        ("sources.backlog.max_msgs" -> BacklogMsgs.toDouble)
      val layers = streams + ("baseline.local1.throughput_msgs_per_s" -> singleCore(spark, ctx))
      Outcome(checks ++ traced.value.map(_.check), e2e, layers)
    }
  }

  /** The same drain on `local[1]`, reported beside the traced numbers
    * and never gated: the single-threaded baseline. Stops the run's
    * SparkContext, so it must come last. */
  def singleCore(spark: SparkSession, ctx: Ctx): Double = {
    spark.stop()
    val one = Main.session(ctx, 1)
    val rnd = new java.util.Random(ctx.seed + 1)
    once(one, ctx, rnd, BulkLimit, "memory")
    val ds = (1 to 3).map(_ => once(one, ctx, rnd, BacklogMsgs, "memory"))
    val thr = Stats.median(ds.map(_.throughput))
    ctx.log(f"drain local[1] baseline: $thr%.0f msgs/s")
    thr
  }
}

/** `steady`: an open-loop generator at a fixed rate into
  * `Pipeline(idempotent = true)` with the default `ProcessingTime(0)`
  * trigger; latency is measured from each message's due time. */
object Steady {
  val RatePerS = 2000.0
  val MinWarmS = 20.0
  val MaxWarmS = 25.0

  /** The send schedule, fixed in advance from the seed: Poisson arrivals
    * at `RatePerS`, as due offsets in microseconds. */
  def schedule(seed: Long, horizonS: Double): IndexedSeq[Msg] = {
    val rnd = new java.util.Random(seed)
    val out = mutable.ArrayBuffer[Msg]()
    var t = 0.0
    while (t < horizonS) {
      t += -math.log(1.0 - rnd.nextDouble()) / RatePerS
      out += Msg(out.size.toLong, (t * 1e6).toLong, Payload.text(rnd))
    }
    out.toIndexedSeq
  }

  /** Publishes each message at its due time, batching whatever is due
    * at a wake-up; records how late each send was. */
  final class Generator(msgs: IndexedSeq[Msg], topic: String) extends Thread("perfbench-gen") {
    setDaemon(true)
    @volatile var stopAtNanos = Long.MaxValue
    @volatile var sent = 0
    val lateMs = new Array[Double](msgs.size)
    override def run(): Unit = {
      var i = 0
      while (i < msgs.size && Payload.baseNanos + msgs(i).dueMicros * 1000L < stopAtNanos) {
        val due = Payload.baseNanos + msgs(i).dueMicros * 1000L
        val now = System.nanoTime()
        if (now < due) LockSupport.parkNanos(math.min(due - now, 1000000L))
        else {
          var j = i
          while (j < msgs.size && Payload.baseNanos + msgs(j).dueMicros * 1000L <= now &&
              Payload.baseNanos + msgs(j).dueMicros * 1000L < stopAtNanos) j += 1
          InMemoryBus.publishBatch(topic, (i until j).map(msgs(_).bytes))
          val done = System.nanoTime()
          (i until j).foreach(k => lateMs(k) = (done - Payload.baseNanos) / 1e6 - msgs(k).dueMicros / 1e3)
          i = j
          sent = i
        }
      }
    }
  }

  /** Pipeline CPU time at micro-batch boundaries: `poll` (every 20 ms)
    * takes a host sample when a new batch id first shows in the query's
    * last progress. With the `ProcessingTime(0)` trigger the next batch
    * starts as its predecessor ends, so the CPU between two boundaries is
    * that of the batches between them. */
  final class BatchCpu(q: org.apache.spark.sql.streaming.StreamingQuery) {
    private val marks = mutable.ArrayBuffer[(Long, Host.Sample)]() // (batch id, sample)
    def poll(): Unit = Option(q.lastProgress).filter(_.numInputRows > 0).foreach { p =>
      if (marks.isEmpty || marks.last._1 != p.batchId) marks += (p.batchId -> Host.sample())
    }
    /** Per batch that ended in [ns0, ns1), but the first: its pipeline
      * CPU ms and the host's steal share while it ran. */
    def batches(ns0: Long, ns1: Long = Long.MaxValue): Seq[(Double, Double)] = {
      val m = marks.filter { case (_, h) => h.wallNs >= ns0 && h.wallNs < ns1 }
      m.zip(m.drop(1)).map { case ((i, a), (j, b)) =>
        ((b.pipeCpuNs - a.pipeCpuNs) / 1e6 / (j - i), Host.stealShare(a, b))
      }.toSeq
    }
    /** Median pipeline CPU ms per batch over the half of the batches in
      * [ns0, ns1) during which the host stole the least. */
    def quietMedian(ns0: Long, ns1: Long): Double =
      Stats.median(Host.quietest(batches(ns0, ns1))(_._2).map(_._1))
  }

  /** Least-squares slope of (seconds, backlog) samples, in msgs/s. */
  def slope(samples: Seq[(Double, Double)]): Double =
    if (samples.size < 2) 0.0
    else {
      val mx = samples.map(_._1).sum / samples.size
      val my = samples.map(_._2).sum / samples.size
      val sxx = samples.map(s => (s._1 - mx) * (s._1 - mx)).sum
      if (sxx == 0) 0.0 else samples.map(s => (s._1 - mx) * (s._2 - my)).sum / sxx
    }

  def run(spark: SparkSession, ctx: Ctx): Outcome = {
    val busSpec = if (ctx.trace) TimedBus.spec else "memory"
    val windows = if (ctx.trace) 2 else 1
    // compile the idempotent path on quick backlog drains first
    val warmRnd = new java.util.Random(ctx.seed + 1)
    val prewarm = Seq(Drain.ColdMsgs, 10000, 10000, 10000, 10000)
      .map(n => Drain.once(spark, ctx, warmRnd, n, busSpec, idempotent = true))
    ctx.log("steady pre-warm drains: " + prewarm.map(d => f"${d.throughput}%.0f").mkString(" ") +
      f" msgs/s, done after ${ctx.sinceLaunchS}%.1f s")
    val msgs = schedule(ctx.seed, MaxWarmS + windows * ctx.seconds + 1.0)
    val t = Topics("steady")
    val backlog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    var lastSample = 0L
    val reader = new Reader(t.outSub, 2L, now => if (now - lastSample > 20000000L) {
      lastSample = now
      backlog.add(now -> (InMemoryBus.endOffset(t.inSub) - InMemoryBus.committedOffset(t.inSub)))
    })
    val pipe = new Pipeline(spark, t.inSub, t.out, JsonSerde(Payload.schema),
      Payload.transform, ctx.dir("ckpt/steady"), bulkLimit = Int.MaxValue,
      idempotent = true, busSpec = busSpec)
    val q = pipe.start()
    Payload.baseNanos = System.nanoTime() + 100000000L
    val gen = new Generator(msgs, t.in)
    gen.start(); reader.start()

    def triggerMs(fromNanos: Long): Seq[Double] = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 &&
        Clock.nanosOf(java.time.Instant.parse(p.timestamp).toEpochMilli) >= fromNanos)
      .map(_.durationMs.get("triggerExecution").doubleValue)

    // warm until the per-batch cost stops falling: the median pipeline CPU
    // of the last eight batches is no longer 3 % below that of the eight
    // before them
    val cpu = new BatchCpu(q)
    def converged: Boolean = {
      val c = cpu.batches(Payload.baseNanos).map(_._1)
      c.size >= 16 && Stats.median(c.takeRight(8)) >= 0.97 * Stats.median(c.takeRight(16).take(8))
    }
    def warmS = (System.nanoTime() - Payload.baseNanos) / 1e9
    while (q.isActive && (warmS < MinWarmS || (!converged && warmS < MaxWarmS))) {
      Thread.sleep(20L); cpu.poll()
    }
    val setupS = ctx.sinceLaunchS
    ctx.log(f"steady warm-up ${if (converged) "converged" else "CAPPED"}: $warmS%.1f s, " +
      s"${triggerMs(Payload.baseNanos).size} batches, pipeline cpu " +
      cpu.batches(Payload.baseNanos).map(_._1.toInt).mkString(" ") + " ms/batch")

    /** One measured window: messages due in [w0, w0 + seconds). */
    def window(): (Map[String, Double], Map[String, Double], StreamCheck) = {
      // host samples once a second from the window's start until every
      // message due in it has been seen
      val w0 = System.nanoTime()
      val w1 = w0 + (ctx.seconds * 1e9).toLong
      val hs = mutable.ArrayBuffer(Host.sample())
      def tick(): Unit = {
        cpu.poll()
        if (System.nanoTime() >= hs.last.wallNs + 1000000000L) hs += Host.sample()
      }
      while (System.nanoTime() < w1 && q.isActive) { Thread.sleep(20L); tick() }
      hs += Host.sample()
      val atEnd = hs.size - 1
      val due = msgs.indices.filter { i =>
        val d = Payload.baseNanos + msgs(i).dueMicros * 1000L
        d >= w0 && d < w1
      }
      val deadline = System.nanoTime() + 30000000000L
      while (due.exists(i => !reader.seen.containsKey(msgs(i).id)) && System.nanoTime() < deadline) {
        Thread.sleep(20L); tick()
      }
      hs += Host.sample()
      ctx.log(Host.describe(hs.head, hs.last))
      // a message's latency is spent in the second it was seen and the one
      // before; keep the quieter half of those two-second spans
      def span(k: Int): Double = Host.stealShare(hs(math.max(0, k - 1)), hs(math.min(hs.size - 1, k + 1)))
      val seenAt = due.flatMap(i => Option(reader.seen.get(msgs(i).id)).map(s => i -> s.longValue))
      def bucket(ns: Long): Int = hs.lastIndexWhere(_.wallNs <= ns).max(0)
      val quiet = Host.quietest(hs.indices.init)(span).toSet
      val kept = seenAt.filter { case (_, s) => quiet(bucket(s)) }
      val lat = kept.map { case (i, s) => (s - Payload.baseNanos) / 1e6 - msgs(i).dueMicros / 1e3 }
      // process CPU over the window itself, per message due in it and per
      // micro-batch started in it
      val batches = q.recentProgress.count { p =>
        val at = Clock.nanosOf(java.time.Instant.parse(p.timestamp).toEpochMilli)
        p.numInputRows > 0 && at >= w0 && at < hs(atEnd).wallNs
      }
      val windowCpuNs = hs(atEnd).procCpuNs - hs.head.procCpuNs
      val late = due.map(gen.lateMs(_))
      val tr = triggerMs(w0)
      val trigP50 = Stats.median(tr)
      val bl = backlog.toArray(Array.empty[(Long, Long)]).toSeq
        .filter { case (ts, _) => ts >= w0 && ts < w1 }
        .map { case (ts, b) => ((ts - w0) / 1e9, b.toDouble) }
      val growth = slope(bl) * ctx.seconds
      val lateMax = if (late.isEmpty) 0.0 else late.max
      val ok = growth <= RatePerS * trigP50 / 1e3 && lateMax <= trigP50
      if (!ok) ctx.log(f"steady window FAILED: backlog growth $growth%.0f msgs " +
        f"(limit ${RatePerS * trigP50 / 1e3}%.0f), generator late by up to $lateMax%.1f ms " +
        f"(limit $trigP50%.1f ms)")
      val e2e = Map(
        "cpu_ms_per_batch" -> windowCpuNs / 1e6 / math.max(1, batches),
        "cpu_ms_per_kmsg" -> windowCpuNs / 1e3 / math.max(1, due.size),
        "pipeline_cpu_ms_per_batch" -> cpu.quietMedian(w0, hs(atEnd).wallNs),
        "latency_p50_ms" -> Stats.median(lat),
        "throughput_msgs_per_s" -> seenAt.size / ctx.seconds)
      val info = Map(
        "latency.p90_ms" -> Stats.quantile(lat, 0.9),
        "steady.latency_samples" -> lat.size.toDouble,
        "steady.backlog_growth_msgs" -> growth,
        "steady.gen_late.p99_ms" -> Stats.quantile(late, 0.99),
        "steady.gen_late.max_ms" -> lateMax,
        "sources.backlog.max_msgs" -> (if (bl.isEmpty) 0.0 else bl.map(_._2).max))
      ctx.log(f"steady window: ${lat.size} msgs, ${tr.size} batches, " +
        f"pipeline cpu ${e2e("pipeline_cpu_ms_per_batch")}%.0f ms/batch, p50 ${e2e("latency_p50_ms")}%.1f ms, " +
        f"p90 ${info("latency.p90_ms")}%.1f ms, trigger p50 $trigP50%.0f ms, " +
        f"backlog growth $growth%.0f msgs, generator late p99 ${info("steady.gen_late.p99_ms")}%.2f ms")
      // a window whose backlog grew or whose generator ran late fails whole
      (e2e, info, StreamCheck(due.size, 0, 0, 0, 0, 0, if (ok) 0 else due.size))
    }

    val (e2e0, info0, win0) = window()
    var result = Outcome(Seq(win0), e2e0 + ("setup_s" -> setupS), info0)
    if (ctx.trace) {
      val traced = Traced.capture(spark, ctx)(window())
      val (e2e1, info1, win1) = traced.value
      result = result.copy(checks = result.checks :+ win1, layers = info1 ++ Main.extras(e2e0) ++
        Traced.streamLayers(traced.stats) ++
        Traced.overhead(result.e2e, e2e1 + ("setup_s" -> setupS)))
    }
    gen.stopAtNanos = 0L
    gen.join()
    val deadline = System.nanoTime() + 30000000000L
    while ((InMemoryBus.committedOffset(t.inSub) < gen.sent || reader.count < gen.sent) &&
        System.nanoTime() < deadline && q.isActive) Thread.sleep(5L)
    q.stop()
    reader.finish()
    q.exception.foreach(e => System.err.println(s"[perfbench] steady query failed: $e"))
    val check = Checks.stream(msgs.take(gen.sent), InMemoryBus.payloads(t.outSub),
      InMemoryBus.committedOffset(t.inSub))
    // serde micro-timing and the operator-layer probe once the live
    // pipeline has stopped
    if (ctx.trace) {
      val ops = Ops.traced(spark, ctx)
      result = result.copy(checks = result.checks ++ ops.checks,
        layers = result.layers ++ ops.layers ++ Serde.timing(spark, msgs))
    }
    result.copy(checks = check +: (prewarm.map(_.check) ++ result.checks))
  }
}
