package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import graft.sources.{Bus, BusFactories, InMemoryBus}

/** Call count, item count and busy time of one bus operation. Busy time
  * includes the wait for the bus monitor: every `BusCore` method holds
  * it, so generator publishes, source reads and sink publishes contend. */
final class OpStats {
  val calls = new LongAdder
  val items = new LongAdder
  val busyNs = new LongAdder
  def add(n: Long, ns: Long): Unit = { calls.increment(); items.add(n); busyNs.add(ns) }
  def reset(): Unit = { calls.reset(); items.reset(); busyNs.reset() }
}

/** Timing decorator over [[InMemoryBus]], plugged in from outside the
  * program through the public `BusFactories` registry and selected by a
  * pipeline's `busSpec` ([[TimedBus.spec]]). Records counts, busy time and
  * one span per call while [[Tracer.enabled]]; otherwise a pass-through.
  * The span's trace id is the micro-batch id Spark attaches to the
  * calling job or thread. */
object TimedBus extends Bus {
  val scheme = "timed"
  val spec = s"$scheme://memory"
  private val inner: Bus = InMemoryBus

  val read, publish, endOffsetOp, commitOp = new OpStats
  /** Messages the sink asked to publish vs. messages the bus appended
    * (an idempotent replay is absorbed, so appended can be lower). */
  val appended = new LongAdder
  /** Read lag samples (ms): read call time minus the due time of the
    * newest message in the read. */
  val readLagMs = new ConcurrentLinkedQueue[java.lang.Double]()

  def register(): Unit = BusFactories.register(scheme, _ => TimedBus)

  def resetStats(): Unit = {
    Seq(read, publish, endOffsetOp, commitOp).foreach(_.reset())
    appended.reset(); readLagMs.clear()
  }

  private def batchId: String = {
    val tc = org.apache.spark.TaskContext.get()
    val v =
      if (tc != null) tc.getLocalProperty("streaming.sql.batchId")
      else org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext.getLocalProperty("streaming.sql.batchId")).orNull
    if (v == null) "-" else v
  }

  private def timed[T](op: OpStats, name: String)(items: T => Long)(body: => T): T =
    if (!Tracer.enabled) body
    else {
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      op.add(items(r), t1 - t0)
      Tracer.record(name, batchId, 0L, t0, t1)
      r
    }

  override def read(name: String, from: Long, until: Long): Seq[InMemoryBus.BusMessage] =
    timed(read, "sources.read")((m: Seq[InMemoryBus.BusMessage]) => m.size.toLong) {
      val msgs = inner.read(name, from, until)
      if (Tracer.enabled && msgs.nonEmpty) {
        val due = Payload.dueNanos(msgs.last.data)
        if (due > 0L)
          readLagMs.add((System.nanoTime() - due) / 1e6)
      }
      msgs
    }

  override def publishBatch(topic: String, data: Seq[Array[Byte]]): Int =
    timed(publish, "sources.publish")((n: Int) => { appended.add(n); data.size.toLong }) {
      inner.publishBatch(topic, data)
    }

  override def publishIdempotentBatch(topic: String,
                                      keyed: Seq[(String, Array[Byte])]): Int =
    timed(publish, "sources.publish")((n: Int) => { appended.add(n); keyed.size.toLong }) {
      inner.publishIdempotentBatch(topic, keyed)
    }

  override def endOffset(name: String): Long =
    timed(endOffsetOp, "sources.end_offset")((_: Long) => 1L)(inner.endOffset(name))

  override def commit(name: String, upTo: Long): Unit =
    timed(commitOp, "sources.commit")((_: Unit) => 1L)(inner.commit(name, upTo))

  // everything else passes straight through
  override def createTopic(topic: String): Unit = inner.createTopic(topic)
  override def createSubscription(topic: String, name: String): Unit =
    inner.createSubscription(topic, name)
  override def publish(topic: String, data: Array[Byte],
                       attributes: Map[String, String]): String =
    inner.publish(topic, data, attributes)
  override def publishIdempotent(topic: String, key: String, data: Array[Byte]): Boolean =
    inner.publishIdempotent(topic, key, data)
  override def committedOffset(name: String): Long = inner.committedOffset(name)
  override def payloads(name: String): Seq[Array[Byte]] = inner.payloads(name)
  override def nowMicros(): Long = inner.nowMicros()
  override def advanceClock(byMicros: Long): Unit = inner.advanceClock(byMicros)
  override def acquireLease(name: String, holder: String, deadlineMicros: Long): Boolean =
    inner.acquireLease(name, holder, deadlineMicros)
  override def modifyAckDeadline(name: String, holder: String,
                                 newDeadlineMicros: Long): Boolean =
    inner.modifyAckDeadline(name, holder, newDeadlineMicros)
  override def failNextPulls(name: String, n: Int): Unit = inner.failNextPulls(name, n)
  override def failNextCommits(name: String, n: Int): Unit = inner.failNextCommits(name, n)
  override def capNextPulls(name: String, maxPerPull: Long, times: Int): Unit =
    inner.capNextPulls(name, maxPerPull, times)
  override def failNextPublishes(topic: String, n: Int): Unit =
    inner.failNextPublishes(topic, n)
  override def failPublishesAfter(topic: String, after: Int, n: Int): Unit =
    inner.failPublishesAfter(topic, after, n)
  override def rewindCommitted(name: String, to: Long): Unit = inner.rewindCommitted(name, to)
  override def reset(): Unit = inner.reset()
}
