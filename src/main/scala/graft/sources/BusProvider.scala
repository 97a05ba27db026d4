package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource-V2 micro-batch source for the bus (SURVEY §7 M5) —
  * `spark.readStream.format("graft.sources.BusProvider")`.
  *
  * Maps the reference's source surface onto Spark's streaming contract:
  *
  *  - sync pull of ≤ bulk_limit messages (`pubsub_pipeline.py:195-200`) →
  *    `SupportsAdmissionControl.latestOffset(start, ReadLimit.maxRows)`
  *    with option `bulkLimit` (default 20 = `pubsub_pipeline.py:68`);
  *  - deadline retry (`pubsub_pipeline.py:204-211`) → bounded ITERATIVE
  *    retry on `TransientPullError` (the reference recurses and can blow
  *    the stack, SURVEY §2-D — deliberately not replicated);
  *  - ack-on-publish-success (`pubsub_pipeline.py:82-84,31-52`) →
  *    `latestOffset(start, limit)` acks `start`, the end of the last
  *    batch in the engine's commit log, before it pulls the next batch;
  *    `commit(offset)` is a no-op (see [[BusMicroBatchStream]]);
  *  - bounded runs (`max_processed_messages`, `pubsub_pipeline.py:161-163`)
  *    → `Trigger.AvailableNow` via `SupportsTriggerAvailableNow` — "stop
  *    once ≥ N" fixes the reference's `==` overshoot hang (SURVEY §2-D).
  *
  * Row schema (superset of what the reference reads, Kafka-source-shaped,
  * SURVEY §1.3): value BINARY, ackId STRING, messageId STRING,
  * publishTime TIMESTAMP, attributes MAP<STRING,STRING>.
  *
  * Option `bus` selects the transport: `memory` (default — the in-JVM
  * [[InMemoryBus]] singleton) or `socket://host:port` (a [[BusService]]
  * daemon in its own process; input partitions carry the spec string so
  * executor JVMs each resolve their own client — r8 verdict #1).
  */
class BusProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BusProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BusTable(properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

object BusProvider {
  val schema: StructType = new StructType()
    .add("value", BinaryType)
    .add("ackId", StringType)
    .add("messageId", StringType)
    .add("publishTime", TimestampType)
    .add("attributes", MapType(StringType, StringType))

  /** Fully-qualified format name for readStream.format(...). */
  val format: String = classOf[BusProvider].getName
}

private class BusTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-bus-${props.getOrElse("subscription", "?")}"
  override def schema(): StructType = BusProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BusProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BusMicroBatchStream(
            subscription = options.get("subscription"),
            busSpec = options.getOrDefault("bus", "memory"),
            bulkLimit = options.getInt("bulkLimit", 20),
            readPartitions = options.getInt("readPartitions", 4),
            retryBackoffMs = options.getLong("retryBackoffMs", 100L),
            respectDeadline = options.getBoolean("respectDeadline", false),
            leaseMicros = options.getLong("leaseMicros", 0L),
            leaseHeartbeatMs = options.getLong("leaseHeartbeatMs", 500L),
            startAtCommitted = options.getBoolean("startAtCommitted", false))
      }
    }
}

/** Long offset into a subscription's log (exclusive end). */
case class BusOffset(offset: Long) extends Offset {
  override def json(): String = offset.toString
}

/** The bus subscription as a micro-batch stream.
  *
  * Acking: `latestOffset(start, limit)` acks `start` before anything
  * else, and nothing else acks. The engine asks for a new batch's
  * offsets only once the batch ending at `start` is in its commit log,
  * i.e. after that batch's sink returned. It asks once more after an
  * `AvailableNow` run's last batch (the run stops only when a new batch
  * finds no data), so a bounded run acks everything before it ends. The
  * ack runs on the stream thread, before the next batch takes the lease
  * and pulls, so it never releases the lease of a batch in flight. A
  * replayed batch (restart after a crash before its commit) is re-run
  * without a `latestOffset` call, so it is acked only once committed.
  *
  * The bus is called only when `start` is above the highest offset this
  * instance has acked, which starts at the subscription's committed
  * offset: a fresh query's first trigger makes no ack call, and a
  * restored checkpoint's committed but unacked prefix is acked at its
  * first trigger. A lost ack (`AckRpcError`) is logged and does not fail
  * the query; acks are cumulative, so the next `latestOffset` heals it.
  *
  * The one narrower case: a live query stopped between a batch's commit
  * and its next trigger leaves that batch unacked until the same
  * checkpoint starts again, and that start acks it at its first trigger.
  * Nothing is lost, and that checkpoint sees no duplicate (another
  * consumer of the subscription would be redelivered the batch).
  */
private class BusMicroBatchStream(subscription: String, busSpec: String,
                                  bulkLimit: Int, readPartitions: Int,
                                  retryBackoffMs: Long, respectDeadline: Boolean,
                                  leaseMicros: Long, leaseHeartbeatMs: Long,
                                  startAtCommitted: Boolean)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with Logging {

  require(subscription != null, "option 'subscription' is required")
  require(readPartitions >= 1, "readPartitions must be >= 1")

  // transport behind the `bus` option: the in-JVM singleton (default) or
  // a SocketBus client to a BusService daemon in another process — the
  // connector logic below is identical either way (r8 verdict #1)
  private val bus: Transport = BusRegistry.resolve(busSpec)

  @volatile private var availableNowEnd: Option[Long] = None

  // the end the last `latestOffset` read, for `reportLatestOffset`; read
  // and written on the stream thread
  private var lastEnd: Option[Long] = None

  // the highest offset known acked; read and written on the stream thread
  private var acked: Long = bus.committedOffset(subscription)

  // --- pull-lease management (modify_ack_deadline analog, round 13) ---
  // Option `leaseMicros` > 0 turns on competing-consumer protection:
  // each poll (re)acquires the subscription lease for that many logical
  // micros, and a daemon heartbeat extends the ACTIVE lease every
  // `leaseHeartbeatMs` of wall time — the Pub/Sub client library's
  // background lease-management loop, so a batch slower than the base
  // deadline is not redelivered to a competitor mid-flight. The
  // heartbeat only ever EXTENDS (modifyAckDeadline fails closed after
  // commit released the lease or after expiry) — it can never resurrect
  // a lost lease, which is what keeps expiry-redelivery sound.
  private val leaseHolder = s"$subscription@${java.util.UUID.randomUUID()}"
  private val heartbeat =
    new java.util.concurrent.atomic.AtomicReference[
      java.util.concurrent.ScheduledExecutorService](null)

  private def ensureHeartbeat(): Unit =
    if (leaseMicros > 0 && heartbeat.get() == null) {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, s"bus-lease-$subscription")
          t.setDaemon(true)
          t
        })
      if (heartbeat.compareAndSet(null, ex)) {
        ex.scheduleAtFixedRate(() => {
          try bus.modifyAckDeadline(subscription, leaseHolder,
            bus.nowMicros() + leaseMicros)
          catch { case _: Throwable => () } // transport hiccup: next tick retries
          ()
        }, leaseHeartbeatMs, leaseHeartbeatMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)
      } else ex.shutdownNow()
    }

  /** Iterative bounded retry around a bus pull — the reference's
    * deadline-retry loop without its unbounded recursion (§2-D), with its
    * two knobs: a sleep between deadline retries
    * (`deadline_exceeded_retry_wait_secs`, `pubsub_pipeline.py:72` —
    * here `retryBackoffMs`, so an outage is not a hot spin) and the
    * fail-fast mode (`respect_deadline=True` re-raises the deadline error,
    * `pubsub_pipeline.py:207-208` — here `respectDeadline`). */
  private def pullEndOffset(): Long = {
    var attempt = 0
    while (true) {
      try {
        return bus.endOffset(subscription)
      } catch {
        case e: InMemoryBus.TransientPullError =>
          if (respectDeadline) throw e
          attempt += 1
          if (attempt > BusMicroBatchStream.MaxPullRetries) throw e
          if (retryBackoffMs > 0) Thread.sleep(retryBackoffMs)
      }
    }
    0L // unreachable
  }

  override def initialOffset(): Offset =
    BusOffset(bus.committedOffset(subscription))

  override def deserializeOffset(json: String): Offset = BusOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(bulkLimit)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[BusOffset].offset
    ack(from)
    if (leaseMicros > 0) {
      // competing-consumer gate: no lease, no pull — report no progress
      // and let the holder (or expiry) decide when this backlog is ours
      if (!bus.acquireLease(subscription, leaseHolder,
          bus.nowMicros() + leaseMicros))
        return BusOffset(from)
      ensureHeartbeat()
    }
    val end = availableNowEnd.getOrElse(pullEndOffset())
    lastEnd = Some(end)
    val capped = limit match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(end, from + rl.maxRows())
      case _ => end
    }
    BusOffset(math.max(from, capped))
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    // Snapshot "now": the bounded run drains up to here then stops —
    // ">= N then stop", not the reference's "== N or hang" (§2-D).
    availableNowEnd = Some(pullEndOffset())
  }

  /** The end this trigger's `latestOffset` read, without a second bus
    * call: the engine asks right after every `latestOffset`, and on a
    * pulling transport ([[GcpPubsubBus]]) each end read is a pull. */
  override def reportLatestOffset(): Offset = lastEnd.map(BusOffset(_)).orNull

  /** Split the micro-batch's offset range into up to `readPartitions`
    * contiguous slices, so a batch is read and deserialized by several
    * tasks in parallel instead of one (the reference is single-threaded
    * per pull, `pubsub_pipeline.py:172-193` — the engine's point is to
    * beat that bound). Slice count never exceeds the row count. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[BusOffset].offset
    val e = end.asInstanceOf[BusOffset].offset
    // `startAtCommitted` (round 13, the lease-handoff fast-forward): any
    // offset below the subscription's committed prefix is BY DEFINITION
    // acked — processed and published by some consumer — so a takeover
    // whose checkpoint start lags the prefix (it snapshotted its initial
    // offset while the previous holder was still working) clamps the
    // batch to the unacked suffix instead of re-emitting acked work.
    // Driver-side, stateless, and monotone-safe: committed only advances,
    // and our own acks land strictly between batches, so the clamp can
    // never skip an unprocessed row. Default OFF: the at-least-once
    // replay contract (crash-before-checkpoint re-emits, idempotent
    // sinks absorb) stays byte-identical unless a user opts in.
    val s = if (startAtCommitted)
      math.max(s0, math.min(bus.committedOffset(subscription), e))
    else s0
    if (e <= s) Array.empty
    else {
      val n = math.min(readPartitions.toLong, e - s).toInt
      val span = e - s
      (0 until n).map { i =>
        // even split: first (span % n) slices get one extra row
        val lo = s + i * (span / n) + math.min(i, span % n)
        val hi = s + (i + 1) * (span / n) + math.min(i + 1, span % n)
        BusInputPartition(subscription, busSpec, lo, hi): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new BusReaderFactory

  /** Ack the committed prefix `[0, upTo)`. This IS the Acknowledger
    * (`pubsub_pipeline.py:31-52`) with a WAL under it. A lost ack RPC
    * must NOT fail the query: the source is at-least-once by contract,
    * acks are cumulative, and the next `latestOffset` retries the prefix
    * (PipelineSpec "lost ack RPC" contract) — unlike the reference, whose
    * bare-except swallow at the same spot leaves the message to redeliver
    * as a duplicate. */
  private def ack(upTo: Long): Unit =
    if (upTo > acked) {
      try {
        bus.commit(subscription, upTo)
        acked = upTo
      } catch { case e: InMemoryBus.AckRpcError =>
        logWarning(s"[bus] ack lost on $subscription (will heal): ${e.getMessage}")
      }
    }

  /** A no-op, as in Spark's Kafka source: the engine calls it lazily,
    * after the NEXT batch's `latestOffset`, so an ack here would release
    * the lease of the batch already in flight. `latestOffset` acks. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = {
    val ex = heartbeat.getAndSet(null)
    if (ex != null) ex.shutdownNow()
    // surrender an unexpired lease so a successor starts immediately
    // (nack shape: deadline ≤ now releases without committing)
    if (leaseMicros > 0) {
      try bus.modifyAckDeadline(subscription, leaseHolder, bus.nowMicros())
      catch { case _: Throwable => () }
    }
    ()
  }
}

private object BusMicroBatchStream {
  /** Transient-pull retries before a pull error fails the batch
    * (`respectDeadline` is the fail-at-once setting). */
  val MaxPullRetries = 3
}

/** Carries the bus SPEC string, never a connection: the reader resolves
  * its own transport on whichever executor JVM it lands in. */
private case class BusInputPartition(subscription: String, busSpec: String,
                                     start: Long, end: Long)
    extends InputPartition

private class BusReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BusInputPartition]
    new PartitionReader[InternalRow] {
      private val msgs =
        BusRegistry.resolve(p.busSpec).read(p.subscription, p.start, p.end).iterator
      private var idx = p.start - 1
      private var current: InMemoryBus.BusMessage = _

      override def next(): Boolean = {
        if (!msgs.hasNext) return false
        current = msgs.next(); idx += 1
        true
      }

      override def get(): InternalRow = {
        val attrs = current.attributes
        InternalRow(
          current.data,
          UTF8String.fromString(s"${p.subscription}-$idx"),
          UTF8String.fromString(current.messageId),
          current.publishTimeMicros,
          ArrayBasedMapData(
            attrs.keys.map(UTF8String.fromString).toArray,
            attrs.values.map(UTF8String.fromString).toArray))
      }

      override def close(): Unit = ()
    }
  }
}
