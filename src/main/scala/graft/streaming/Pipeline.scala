package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DataType

import graft.sources.{BusProvider, BusRegistry}

/** Pluggable payload serde — the engine's version of the reference's
  * `message_deserializer` / `result_serializer` pair
  * (`pubsub_pipeline.py:66-67`). Column-to-Column so it stays inside
  * codegen; the JSON default mirrors `byte_load_json`/`byte_encode_json`
  * (`pubsub_pipeline.py:27-28,55-57`).
  */
trait Serde {
  /** bytes column → typed payload column. */
  def deserialize(value: Column): Column
  /** typed payload struct → bytes column. */
  def serialize(payload: Column): Column
}

/** Default JSON serde: UTF-8 bytes ⇄ struct via from_json/to_json.
  *
  * `failFast = false` (default): a malformed payload deserializes to a
  * null struct (Spark's PERMISSIVE mode) — the batch completes and the
  * transform decides what to do with nulls. `failFast = true` mirrors
  * the reference's behavior (`json.loads` raises uncaught,
  * `pubsub_pipeline.py:177` — the loop dies, nothing is acked, the
  * message redelivers on restart): the batch FAILS on the first
  * malformed payload, so no offset commits and the poison message stays
  * unacked. */
final case class JsonSerde(schema: DataType, failFast: Boolean = false) extends Serde {
  // failFast routes through the StructType overload of from_json; fail at
  // construction with a clear message instead of a ClassCastException at
  // first deserialize (advisor finding)
  require(!failFast || schema.isInstanceOf[org.apache.spark.sql.types.StructType],
    s"JsonSerde(failFast = true) requires a StructType schema, got: $schema")
  override def deserialize(value: Column): Column =
    if (failFast)
      from_json(value.cast("string"), schema.asInstanceOf[org.apache.spark.sql.types.StructType],
        Map("mode" -> "FAILFAST"))
    else from_json(value.cast("string"), schema)
  override def serialize(payload: Column): Column =
    to_json(payload).cast("binary")
}

/** Raw-bytes serde: the message bytes come in as `payload` (and stay
  * in `value`), and the transform's `value` column goes out as the
  * published bytes, unchanged — so the transform must keep a binary
  * `value` column. */
case object BytesSerde extends Serde {
  override def deserialize(value: Column): Column = value
  override def serialize(payload: Column): Column = payload.getField("value")
}

/** The streaming runner (SURVEY §7 M4): bus-subscription in → deserialize
  * → user transform → serialize → bus-topic out, with ack-after-publish.
  *
  * Decomposition mirrors the reference: `PubSubPipeline` owns plumbing,
  * the `processor` slot owns logic (`pubsub_pipeline.py:62,90-91`). Here
  * the slot is `transform: DataFrame => DataFrame` — any operator from
  * `graft.operators` composes in unchanged, which is how the batch
  * library and the streaming runner stay one engine.
  *
  * Delivery contract: at-least-once. The source's `commit(offset)` (ack)
  * runs only after `foreachBatch` returns, i.e. after every row of the
  * batch was published (`pubsub_pipeline.py:82-84` semantics, backed by
  * the checkpoint WAL instead of an in-flight future callback —
  * SURVEY §3.4). A crash between publish and checkpoint replays the
  * batch: duplicates possible, never loss (§2-D documented window).
  *
  * A `file:` checkpoint is written through [[LocalCheckpointFileManager]]
  * (no forked processes, no `.crc` sidecars) unless the session sets
  * `spark.sql.streaming.checkpointFileManagerClass`, which always wins.
  */
final class Pipeline(
    spark: SparkSession,
    subscription: String,
    outTopic: String,
    serde: Serde,
    transform: DataFrame => DataFrame,
    checkpointDir: String,
    bulkLimit: Int = 20,
    /** Publish with content-derived idempotence keys: a batch replayed
      * after crash-before-checkpoint re-publishes the same keys and the
      * bus absorbs them — effective exactly-once, vs the reference's
      * duplicates (§2-D). A row's key is (pipeline identity, batchId,
      * content hash, rank among the batch's rows with that hash) — see
      * [[Pipeline.idempotenceKeys]] — so it depends only on the batch's
      * row multiset: stable under shuffling transforms and under any
      * partition count, and scoped per pipeline (two pipelines sharing
      * an output topic, or a restart with a fresh checkpoint dir, never
      * collide on keys). Requires only that the transform is
      * deterministic as a multiset of rows per batch.
      *
      * Upgrade effect: keys used to be (pipeline identity, batchId,
      * partition id, index). A batch published by a build with the old
      * keys and replayed by this one (a crash that spans the upgrade) is
      * re-published once, because its keys differ. */
    idempotent: Boolean = false,
    /** Micro-batch read parallelism of the bus source (slices per offset
      * range); the reference reads each pull single-threaded. */
    readPartitions: Int = 4,
    /** Sleep between transient-pull retries — the reference's
      * `deadline_exceeded_retry_wait_secs` (default 300 s there; a test-
      * friendly 100 ms here, configurable). */
    retryBackoffMs: Long = 100L,
    /** Fail fast on a transient pull error instead of retrying — the
      * reference's `respect_deadline=True`. */
    respectDeadline: Boolean = false,
    /** Byte-budget admission per micro-batch on top of `bulkLimit`
      * (ReadMaxBytes analog; always admits at least one message). */
    maxBytesPerPull: Long = Long.MaxValue,
    /** Bus transport: `"memory"` (in-JVM singleton, the default) or
      * `"socket://host:port"` to a [[graft.sources.BusService]] daemon
      * in its own process. Only the SPEC crosses to executors; every
      * JVM resolves its own transport. */
    busSpec: String = "memory",
    /** Pull-lease base deadline in logical micros (0 = off): the
      * `modify_ack_deadline` analog — while this pipeline's batch is in
      * flight the subscription's backlog is not deliverable to a
      * competing consumer, and the source's background heartbeat keeps
      * the lease alive past slow batches (see
      * [[graft.sources.Bus.modifyAckDeadline]]). */
    leaseMicros: Long = 0L,
    /** Wall-clock heartbeat period for lease extension. */
    leaseHeartbeatMs: Long = 500L,
    /** Lease-handoff fast-forward: clamp every batch to the bus's
      * committed prefix, so a takeover whose checkpoint lags another
      * consumer's acks never re-emits acked work (default off — the
      * at-least-once replay contract unchanged). */
    startAtCommitted: Boolean = false) {

  /** The streaming DataFrame: payload column is `payload`, plus the bus
    * metadata columns (ackId/messageId/publishTime/attributes). */
  def stream(): DataFrame =
    Pipeline.busStream(spark, subscription, busSpec, serde,
      "bulkLimit" -> bulkLimit,
      "readPartitions" -> readPartitions,
      "retryBackoffMs" -> retryBackoffMs,
      "respectDeadline" -> respectDeadline,
      "maxBytesPerPull" -> maxBytesPerPull,
      "leaseMicros" -> leaseMicros,
      "leaseHeartbeatMs" -> leaseHeartbeatMs,
      "startAtCommitted" -> startAtCommitted)

  /** Start the pipeline. `availableNow = true` gives a bounded drain-and-
    * stop run (the fixed version of `max_processed_messages`, §2-D).
    *
    * Acking: the engine only invokes `MicroBatchStream.commit()` lazily
    * (when planning a later batch), so a bounded run would finish with the
    * last batch published-but-unacked. The shared sink
    * ([[Pipeline.startPublish]]) registers a listener that acks on every
    * `QueryProgress` event — emitted after the batch's offset/commit logs
    * are durable and `foreachBatch` (the publish) returned, which is
    * precisely the reference's "ack only after successful publish"
    * (`pubsub_pipeline.py:82-84`) ordering, with a WAL under it. */
  def start(availableNow: Boolean = false): StreamingQuery =
    Pipeline.startPublish(transform(stream()), serde.serialize, subscription,
      outTopic, busSpec, checkpointDir, availableNow, idempotent)

  /** Graceful shutdown between micro-batches — the engine's
    * `GracefulKiller` (`pubsub_pipeline.py:15-24,147-154`): a JVM
    * shutdown hook stops the query cleanly so the last committed batch
    * stays consistent (pre-emptible-VM support). */
  def withShutdownHook(q: StreamingQuery): StreamingQuery = {
    sys.addShutdownHook { if (q.isActive) q.stop() }
    q
  }
}

object Pipeline {
  /** Rows per publish batch in the executor sinks — bounds per-chunk
    * memory while amortizing the socket transport's per-call connection
    * (Bus.publishBatch) across hundreds of rows. */
  val PublishChunkRows = 512

  /** The bus source every runner reads: `subscription` over `busSpec`
    * with the given source options (any left out keep the source's
    * defaults), and the message bytes deserialized into `payload`. */
  private[streaming] def busStream(spark: SparkSession, subscription: String,
      busSpec: String, serde: Serde, options: (String, Any)*): DataFrame =
    options.foldLeft(spark.readStream.format(BusProvider.format)
        .option("subscription", subscription).option("bus", busSpec)) {
      case (reader, (k, v)) => reader.option(k, v.toString)
    }.load().withColumn("payload", serde.deserialize(col("value")))

  /** Stable pipeline identity for idempotence-key namespacing: derived
    * from the checkpoint location, which is exactly the unit that defines
    * "the same logical pipeline" across restarts. */
  private def pipelineId(checkpointDir: String): String =
    java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toString.take(8)

  /** The publish+ack half shared by [[Pipeline]] and [[PyPipeline]]:
    * serializes every column of the already-transformed streaming frame
    * `out` into one `data` payload per row, publishes each micro-batch
    * from the executors (no collect-to-driver), and acks `subscription`
    * on each durable batch through [[AckOnCommitListener]]. */
  private[streaming] def startPublish(
      out: DataFrame, serialize: Column => Column, subscription: String,
      outTopic: String, busSpec: String, checkpointDir: String,
      availableNow: Boolean, idempotent: Boolean): StreamingQuery = {
    val pipe = pipelineId(checkpointDir)
    val data = out.select(serialize(struct(out.columns.map(col).toIndexedSeq: _*)).as("data"))
    AckOnCommitListener.run(data, subscription, busSpec, checkpointDir, availableNow) {
      (batch, batchId) =>
        // Executor-side publish: no collect-to-driver. On the in-memory
        // bus this is same-JVM; against a real service each partition
        // holds one publisher client. The closures capture the bus SPEC
        // string; every executor resolves its own transport.
        if (idempotent) {
          val prefix = s"$pipe-$batchId-"
          byContent(batch, batch.sparkSession.sparkContext.defaultParallelism)
            .foreachPartition { rows: Iterator[Row] =>
              val bus = BusRegistry.resolve(busSpec)
              // chunked batch publish: one wire round trip per chunk on
              // the socket transport instead of one per ROW
              ranked(rows).grouped(PublishChunkRows).foreach(chunk =>
                bus.publishIdempotentBatch(outTopic,
                  chunk.map { case (k, d) => (prefix + k, d) }))
            }
        } else {
          batch.foreachPartition { rows: Iterator[Row] =>
            val bus = BusRegistry.resolve(busSpec)
            rows.grouped(PublishChunkRows).foreach(chunk =>
              bus.publishBatch(outTopic, chunk.map(_.getAs[Array[Byte]](0))))
          }
        }
    }
  }

  // Idempotence keys. A row's key must not depend on which physical
  // partition or position it lands in: shuffle block fetch order varies
  // across replays, and a replay may run with a different parallelism, so
  // a position-based key would bind to a DIFFERENT row on replay (silent
  // drop = data loss) or re-publish the batch under new keys. The key is
  // instead (h, r): h = xxhash64(data), r = the row's rank among the
  // batch's rows with the same h, in `data` order. Hash-partitioning on h
  // puts every row with a given h in one partition, sorted by (h, data),
  // so r is a counter that resets whenever h changes — a pure function of
  // the batch's row multiset whatever the partition count. Equal payloads
  // are interchangeable; distinct payloads whose h collides still get
  // distinct ranks, so a collision cannot drop a row. The width is free,
  // so it follows the cores: one key-shuffle task per core.

  /** The batch's `data` column hash-partitioned into `width` partitions
    * and sorted by content: columns (h, data). */
  private def byContent(batch: DataFrame, width: Int): DataFrame =
    batch.select(xxhash64(col("data")).as("h"), col("data"))
      .repartition(width, col("h"))
      .sortWithinPartitions(col("h"), col("data"))

  /** (h, r) keys over one partition of [[byContent]]: rows arrive sorted
    * by (h, data), so the rank restarts at 0 whenever h changes. */
  private[streaming] def ranked(rows: Iterator[Row]): Iterator[(String, Array[Byte])] = {
    var prev = 0L
    var r = -1L
    rows.map { row =>
      val h = row.getLong(0)
      r = if (r >= 0 && h == prev) r + 1 else 0
      prev = h
      (s"${java.lang.Long.toHexString(h)}-$r", row.getAs[Array[Byte]](1))
    }
  }

  /** The key derivation as a pure function of (batch, width): every row
    * of `batch` (a `data` binary column) with its key, less the
    * `pipelineId-batchId-` prefix the sink adds. Equal for every `width`. */
  private[streaming] def idempotenceKeys(batch: DataFrame, width: Int): Seq[(String, Array[Byte])] =
    byContent(batch, width).rdd.mapPartitions(ranked).collect().toSeq
}
