package graft.sources

/** In-memory Pub/Sub-shaped message bus (SURVEY §7 M5): the JVM-singleton
  * [[BusCore]], and the home of the types every transport shares.
  *
  * Models the subset of Pub/Sub the reference touches: topics,
  * subscriptions, opaque byte payloads with ack handles, at-least-once
  * redelivery of unacked messages (`pubsub_pipeline.py:177,179,31-52`).
  * Zero-egress: this is the test double for the real service; the DSv2
  * connector (`BusProvider`) is the production-shaped integration point.
  *
  * Semantics (implemented once in [[BusCore]], which this object is and
  * the cross-process [[BusService]] daemon serves):
  *  - `publish(topic, ...)` appends to every subscription of the topic
  *    (fan-out, like Pub/Sub).
  *  - A subscription is an ordered log + a committed (acked) prefix.
  *    `commit(sub, n)` acks everything below offset n — the streaming
  *    source calls it from `latestOffset`, for the end of the last batch
  *    in the engine's commit log, which is the reference's
  *    ack-on-publish-success (`pubsub_pipeline.py:82-84`) strengthened
  *    by the checkpoint WAL (SURVEY §3.4).
  *  - Messages above the committed prefix are redelivered on restart
  *    (at-least-once; duplicates possible, same as the reference §2-D).
  *  - The [[Bus]] harness injects transient pull failures to exercise
  *    the retry contract (`pubsub_pipeline.py:204-211`, test 3 in
  *    `test_pubsub_pipeline.py:107-143`).
  *  - `publishIdempotent` absorbs replays of an already-delivered batch
  *    by (topic, key) — the standard batchId-keyed idempotent-sink
  *    pattern that upgrades at-least-once to effective exactly-once.
  *
  * Being an `object`, its [[Bus]] methods are also compiled as JVM
  * statics of class `graft.sources.InMemoryBus`, which is how py4j
  * callers (`python/smoke_pubsub.py`) reach it.
  *
  * JVM-singleton state: fine for local[*] (driver and executors share the
  * JVM). For real multi-process execution — separate executor JVMs, or a
  * bus that must survive the pipeline's death — use a [[BusService]]
  * daemon and the `bus = socket://host:port` option; the connector code
  * is identical either way (it only sees the [[Transport]] trait).
  */
object InMemoryBus extends BusCore {

  final case class BusMessage(
      data: Array[Byte],
      messageId: String,
      publishTimeMicros: Long,
      attributes: Map[String, String])

  /** Transient, retryable pull failure (models DeadlineExceeded). */
  final class TransientPullError(msg: String) extends RuntimeException(msg)

  /** Lost ack RPC (models the reference's bare-except swallow window,
    * `pubsub_pipeline.py:48-52`: publish succeeded, ack never landed). */
  final class AckRpcError(msg: String) extends RuntimeException(msg)

  /** Non-transient publish failure (models a failed publish future —
    * `test_pubsub_pipeline.py:87-104`'s contract: no ack on publish fail). */
  final class PublishError(msg: String) extends RuntimeException(msg)
}
