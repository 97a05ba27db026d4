package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

/** The bus surface (SURVEY §7 M5) — three traits, three transports.
  *
  *  - [[Transport]]: the data plane the engine calls — publish, the
  *    offset log (`endOffset`, `committedOffset`, `read`, `commit`) and
  *    the pull lease. The DSv2 source, the pipeline sinks and the test
  *    client see only this, so they are transport-agnostic:
  *    `BusRegistry.resolve(spec)` turns the `bus` option string into a
  *    live transport ON WHICHEVER JVM asks (driver or executor —
  *    partitions carry the spec string, never a connection).
  *  - [[IdempotentPublish]]: what the exactly-once sink needs besides.
  *  - [[Bus]]: both, plus the test harness.
  *
  * The transports:
  *
  *  - [[InMemoryBus]]: the single-JVM test double, a [[BusCore]] singleton
  *    (its methods are also JVM statics, for py4j callers),
  *  - [[SocketBus]]: a TCP client to a [[BusService]] daemon in its OWN
  *    process (round-8 verdict #1 — the ack-on-commit guarantee is the
  *    reference's core semantic and must be proven across a real process
  *    boundary, like the reference's own `test_client.py:6-31`
  *    cross-process harness),
  *  - [[GcpPubsubBus]]: the Pub/Sub client adapter, a [[Transport]] only,
  *    plugged in by scheme through [[BusFactories]].
  */
trait Transport {
  def publish(topic: String, data: Array[Byte],
              attributes: Map[String, String] = Map.empty): String

  /** Exact-arity overload for py4j callers (the PySpark shim): Scala
    * default arguments are not visible as a 2-arg JVM method, so
    * `jvm...publish(topic, bytes)` needs this. Same semantics. */
  final def publish(topic: String, data: Array[Byte]): String =
    publish(topic, data, Map.empty)

  /** Publish many payloads in one call — ONE wire round trip on the
    * socket transport (the per-row form opens a connection per message,
    * which caps executor publish throughput at connect rate; the
    * pipeline sinks chunk partitions through this instead). Failure
    * semantics are the per-row loop's: a mid-batch `PublishError` leaves
    * the already-published prefix in the log (§2-D partial-prefix
    * window) and surfaces the error — exactly what N individual calls
    * would do. Returns the number published. */
  def publishBatch(topic: String, data: Seq[Array[Byte]]): Int = {
    data.foreach(publish(topic, _))
    data.size
  }

  def endOffset(name: String): Long
  def committedOffset(name: String): Long
  def read(name: String, from: Long, until: Long): Seq[InMemoryBus.BusMessage]
  def commit(name: String, upTo: Long): Unit

  // --- pull lease (the modify_ack_deadline analog, round 13) ---------
  // Pub/Sub gives every outstanding message an ack deadline that the
  // client library extends in the background while processing runs
  // (modifyAckDeadline); expiry ⇒ redelivery to another consumer. In the
  // offset-log model the analog is a SUBSCRIPTION-WIDE pull lease over
  // the uncommitted backlog: while one consumer's lease is active a
  // competing consumer pulls nothing; if the holder stalls past its
  // deadline without extending, the lease expires and the backlog is
  // deliverable again (at-least-once redelivery, same contract as a
  // restart). On the test doubles deadlines are in the bus's
  // deterministic LOGICAL clock (micros; ticks on publish, advanced
  // explicitly in tests) so lease semantics are replayable, never
  // wall-clock flaky.

  /** "Now" in micros on the clock lease deadlines are read against. */
  def nowMicros(): Long

  /** Acquire (or renew, for the same holder) the subscription's pull
    * lease until `deadlineMicros`. Returns false while a DIFFERENT
    * holder's unexpired lease is active — the caller must back off and
    * not pull. */
  def acquireLease(name: String, holder: String, deadlineMicros: Long): Boolean

  /** The `modify_ack_deadline` analog: move the ACTIVE lease's deadline
    * (the slow-batch heartbeat). Never acquires: returns false if the
    * lease is held by someone else, already expired, or released — a
    * late extension MUST fail, that is what makes expiry-redelivery
    * sound. Setting a deadline ≤ now is the nack shape: the holder
    * surrenders the backlog for immediate redelivery. */
  def modifyAckDeadline(name: String, holder: String, newDeadlineMicros: Long): Boolean
}

/** A publish that absorbs replays: a key the topic has already taken is
  * not appended again. This is what turns a replayed batch into no
  * duplicate, so only a transport that really has it may carry the
  * exactly-once sink. */
trait IdempotentPublish {
  /** Append `data` unless `key` was already published to `topic`;
    * returns whether it was appended. */
  def publishIdempotent(topic: String, key: String, data: Array[Byte]): Boolean

  /** Batched idempotent publish (see [[Transport.publishBatch]] for the
    * transport rationale, [[publishIdempotent]] for the key contract).
    * Returns how many were actually appended (replayed keys are
    * absorbed). */
  def publishIdempotentBatch(topic: String, keyed: Seq[(String, Array[Byte])]): Int =
    keyed.count { case (k, d) => publishIdempotent(topic, k, d) }
}

/** A test bus: the data plane with idempotent publish, plus the harness
  * verbs that set up, inspect and break it. The harness is part of this
  * trait on purpose: the retry/backoff/partial-pull contracts
  * (`pubsub_pipeline.py:204-211`) are only cross-process-proven if the
  * failures themselves can be injected through the wire, so
  * [[BusService]] serves exactly these methods and [[SocketBus]] speaks
  * them. A production adapter implements [[Transport]] instead and
  * leaves fault injection to a mocked client, the reference's strategy
  * (`test_pubsub_pipeline.py:48-52`). */
trait Bus extends Transport with IdempotentPublish {
  def createTopic(topic: String): Unit
  def createSubscription(topic: String, name: String): Unit
  def payloads(name: String): Seq[Array[Byte]]

  /** Advance the logical clock (how a spec makes a lease expire
    * deterministically). */
  def advanceClock(byMicros: Long): Unit

  // --- fault injection --------------------------------------------------
  def failNextPulls(name: String, n: Int): Unit
  def failNextCommits(name: String, n: Int): Unit
  def capNextPulls(name: String, maxPerPull: Long, times: Int): Unit
  def failNextPublishes(topic: String, n: Int): Unit
  def failPublishesAfter(topic: String, after: Int, n: Int): Unit
  def rewindCommitted(name: String, to: Long): Unit
  def reset(): Unit
}

/** Resolves a `bus` option string to a transport. Stateless by design:
  * a [[SocketBus]] opens one connection per call, so resolving on an
  * executor is free and nothing needs pooling or serializing. */
object BusRegistry {
  def resolve(spec: String): Transport = spec match {
    case null | "" | "memory" => InMemoryBus
    case s if s.startsWith("socket://") =>
      val hp = s.stripPrefix("socket://")
      val i = hp.lastIndexOf(':')
      require(i > 0, s"bus spec must be socket://host:port, got: $spec")
      new SocketBus(hp.substring(0, i), hp.substring(i + 1).toInt)
    case other =>
      // external transports plug in by scheme ([[BusFactories]]) — the
      // GcpPubsubBus wiring path, kept out of the match so the engine
      // never depends on a client jar
      BusFactories.resolve(other).getOrElse(
        throw new IllegalArgumentException(
          s"unknown bus spec '$other' (expected 'memory', " +
            "'socket://host:port', or a BusFactories-registered scheme)"))
  }

  /** [[resolve]] for the exactly-once sink: a transport without
    * idempotent publish would re-publish a replayed batch, so it is
    * refused rather than run at-least-once under an exactly-once name. */
  def resolveIdempotent(spec: String): IdempotentPublish = resolve(spec) match {
    case t: IdempotentPublish => t
    case t => throw new IllegalArgumentException(
      s"bus '$spec' (${t.getClass.getSimpleName}) has no idempotent publish, " +
        "so it cannot absorb a replayed batch: idempotent = true needs one")
  }
}

/** The bus state machine — topics, subscriptions, ordered logs with a
  * committed (acked) prefix, at-least-once redelivery, idempotent keyed
  * publish, and the injectable fault surface. The semantics (documented
  * on [[InMemoryBus]]) live here exactly once, with two owners: the JVM
  * singleton [[InMemoryBus]] IS a `BusCore`, and each [[BusService]]
  * daemon serves a private `new BusCore` over TCP. Spark-free on
  * purpose: the daemon runs on a bare JVM with just the library classes.
  */
class BusCore extends Bus {
  import InMemoryBus.{AckRpcError, BusMessage, PublishError, TransientPullError}

  private final class Subscription(val topic: String, val name: String) {
    val log = new ArrayBuffer[BusMessage]()
    var committed: Long = 0L
    var failPulls: Int = 0
    var capPulls: Int = 0
    var capPerPull: Long = Long.MaxValue
    var failCommits: Int = 0
    var leaseHolder: String = null
    var leaseUntil: Long = 0L
  }

  private val topics = new ConcurrentHashMap[String, ArrayBuffer[Subscription]]()
  private val failPublishes = new ConcurrentHashMap[String, Integer]()
  private val publishGrace = new ConcurrentHashMap[String, Integer]()
  private val subs = new ConcurrentHashMap[String, Subscription]()
  private val publishedKeys = new ConcurrentHashMap[String, java.util.HashSet[String]]()
  private val idGen = new java.util.concurrent.atomic.AtomicLong(0L)
  // Deterministic logical clock for publishTime (no wall clock in tests).
  private val clock = new java.util.concurrent.atomic.AtomicLong(1704067200000000L)

  override def createTopic(topic: String): Unit = synchronized {
    topics.putIfAbsent(topic, new ArrayBuffer[Subscription]())
  }

  override def createSubscription(topic: String, name: String): Unit = synchronized {
    createTopic(topic)
    if (!subs.containsKey(name)) {
      val s = new Subscription(topic, name)
      subs.put(name, s)
      topics.get(topic) += s
    }
  }

  override def publish(topic: String, data: Array[Byte],
                       attributes: Map[String, String] = Map.empty): String = synchronized {
    createTopic(topic)
    val grace = publishGrace.getOrDefault(topic, 0)
    if (grace > 0) publishGrace.put(topic, grace - 1)
    else {
      val remaining = failPublishes.getOrDefault(topic, 0)
      if (remaining > 0) {
        failPublishes.put(topic, remaining - 1)
        throw new PublishError(s"injected publish failure on $topic")
      }
    }
    val id = s"m-${idGen.incrementAndGet()}"
    val msg = BusMessage(data, id, clock.addAndGet(1000L), attributes)
    topics.get(topic).foreach(_.log += msg)
    id
  }

  private def sub(name: String): Subscription = {
    val s = subs.get(name)
    require(s != null, s"no such subscription: $name")
    s
  }

  override def endOffset(name: String): Long = synchronized {
    val s = sub(name)
    if (s.failPulls > 0) {
      s.failPulls -= 1
      throw new TransientPullError(s"injected deadline-exceeded on $name")
    }
    if (s.capPulls > 0) {
      // partial pull: the service under-reports the backlog — fewer
      // messages come back than are available (real Pub/Sub does this
      // routinely; a correct client must keep pulling, not assume drained)
      s.capPulls -= 1
      math.min(s.log.size.toLong, s.committed + s.capPerPull)
    } else s.log.size.toLong
  }

  override def committedOffset(name: String): Long = synchronized { sub(name).committed }

  override def read(name: String, from: Long, until: Long): Seq[BusMessage] =
    synchronized {
      sub(name).log.slice(from.toInt, until.toInt).toSeq
    }

  override def commit(name: String, upTo: Long): Unit = synchronized {
    val s = sub(name)
    if (s.failCommits > 0) {
      s.failCommits -= 1
      throw new AckRpcError(s"injected ack-RPC loss on $name")
    }
    // the ack ends the outstanding work the lease was protecting — but
    // ONLY an advancing commit is an ack. A stale commit (upTo <= the
    // committed offset, e.g. a lagging consumer's replayed checkpoint)
    // must not evict the ACTIVE holder's lease: that would reopen the
    // mid-flight competing-consumer window the lease exists to close
    // (r13 ADVICE).
    if (upTo > s.committed) {
      s.committed = upTo
      s.leaseHolder = null
      s.leaseUntil = 0L
    }
  }

  override def nowMicros(): Long = clock.get()

  override def advanceClock(byMicros: Long): Unit = {
    clock.addAndGet(byMicros); ()
  }

  private def leaseActive(s: Subscription): Boolean =
    s.leaseHolder != null && clock.get() < s.leaseUntil

  override def acquireLease(name: String, holder: String,
                            deadlineMicros: Long): Boolean = synchronized {
    val s = sub(name)
    if (leaseActive(s) && s.leaseHolder != holder) false
    else {
      s.leaseHolder = holder
      s.leaseUntil = deadlineMicros
      true
    }
  }

  override def modifyAckDeadline(name: String, holder: String,
                                 newDeadlineMicros: Long): Boolean = synchronized {
    val s = sub(name)
    if (!leaseActive(s) || s.leaseHolder != holder) false
    else {
      s.leaseUntil = newDeadlineMicros
      true
    }
  }

  override def capNextPulls(name: String, maxPerPull: Long, times: Int): Unit =
    synchronized {
      val s = sub(name)
      s.capPerPull = maxPerPull
      s.capPulls = times
    }

  override def failNextCommits(name: String, n: Int): Unit = synchronized {
    sub(name).failCommits = n
  }

  override def rewindCommitted(name: String, to: Long): Unit = synchronized {
    sub(name).committed = to
  }

  override def failNextPulls(name: String, n: Int): Unit = synchronized {
    sub(name).failPulls = n
  }

  override def publishIdempotent(topic: String, key: String, data: Array[Byte]): Boolean =
    synchronized {
      createTopic(topic)
      val seen = publishedKeys.computeIfAbsent(topic, _ => new java.util.HashSet[String]())
      if (seen.contains(key)) false
      else {
        publish(topic, data)
        seen.add(key)
        true
      }
    }

  override def failNextPublishes(topic: String, n: Int): Unit = synchronized {
    failPublishes.put(topic, n)
    publishGrace.remove(topic)
  }

  override def failPublishesAfter(topic: String, after: Int, n: Int): Unit =
    synchronized {
      publishGrace.put(topic, after)
      failPublishes.put(topic, n)
    }

  override def payloads(name: String): Seq[Array[Byte]] = synchronized {
    sub(name).log.map(_.data).toSeq
  }

  override def reset(): Unit = synchronized {
    topics.clear(); subs.clear(); failPublishes.clear()
    publishGrace.clear(); publishedKeys.clear()
  }
}
