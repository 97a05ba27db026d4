"""PySpark-facing shim for the graft streaming runner.

The reference pipeline's ``processor`` slot is a Python callable
(``pubsub_pipeline.py:62``); this module is the migration surface for
those users: the processor is a plain PySpark ``DataFrame -> DataFrame``
function over the deserialized payload stream -- including pandas UDFs,
so row processing runs in Python workers on executors, exactly where the
reference's processor ran -- while the JVM keeps the bus source
(pull / retry / backoff / lease), the executor-side publish sink, and
ack-on-publish-success (``graft.streaming.PyPipeline``).

Mapping from the reference's constructor:

=============================  =======================================
reference                       shim
=============================  =======================================
processor (per-message fn)      processor (DataFrame -> DataFrame; a
                                pandas UDF inside is the per-message
                                Python function, now batched)
google_cloud_project            part of the ``bus`` spec (a registered
                                scheme, e.g. a GcpPubsubBus factory)
incoming_subscription           incoming_subscription
outgoing_topic                  outgoing_topic
message_deserializer (json)     message_schema (a DDL string: JSON
                                into that struct); None = raw bytes
result_serializer (json)        every output column -> one JSON object
bulk_limit                      bulk_limit (per-micro-batch admission)
respect_deadline                respect_deadline (fail fast on a
                                transient pull error instead of retry)
subscriber/publisher clients    the ``bus`` option string; transports
                                resolve per-JVM (memory, socket://,
                                or a BusFactories-registered scheme)
=============================  =======================================

Unlike the reference (at-least-once with duplicate publishes on a crash
between publish and ack), ``idempotent=True`` publishes with
content-derived replay-stable keys the bus absorbs -- effective
exactly-once across restarts. It needs a transport with idempotent
publish (the memory and socket buses); Pub/Sub has none, and ``start``
refuses it.

Example::

    from graft_pubsub import PubSubPipeline
    import pyspark.sql.functions as F

    def shout(df):                      # the processor slot
        return df.withColumn("data", F.upper(F.col("data")))

    p = PubSubPipeline(spark, shout, "insub", "out",
                       message_schema="data string")
    p.process()                          # drain-and-stop (AvailableNow)
"""

import tempfile

from pyspark.sql import DataFrame

# constructor parameter -> bus source option; a parameter left at None is
# not forwarded, so the source's own default applies
SOURCE_OPTIONS = dict(
    bulk_limit="bulkLimit", read_partitions="readPartitions",
    respect_deadline="respectDeadline", retry_backoff_ms="retryBackoffMs",
    lease_micros="leaseMicros", lease_heartbeat_ms="leaseHeartbeatMs",
    start_at_committed="startAtCommitted")


class PubSubPipeline:
    """Pull -> deserialize -> Python processor -> serialize -> publish
    -> ack, on Structured Streaming (the reference loop,
    ``pubsub_pipeline.py:132-167``)."""

    def __init__(self, spark, processor, incoming_subscription,
                 outgoing_topic, message_schema=None, bus=None,
                 bulk_limit=None, read_partitions=None, respect_deadline=None,
                 retry_backoff_ms=None, idempotent=False,
                 checkpoint_dir=None, lease_micros=None,
                 lease_heartbeat_ms=None, start_at_committed=None):
        self.spark = spark
        self.processor = processor
        self.incoming_subscription = incoming_subscription
        self.outgoing_topic = outgoing_topic
        self.message_schema = message_schema
        self.bus = bus
        self.bulk_limit = bulk_limit
        self.read_partitions = read_partitions
        self.respect_deadline = respect_deadline
        self.retry_backoff_ms = retry_backoff_ms
        self.idempotent = idempotent
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(
            prefix="graft-py-ckpt-")
        self.lease_micros = lease_micros
        self.lease_heartbeat_ms = lease_heartbeat_ms
        self.start_at_committed = start_at_committed

    def stream(self) -> DataFrame:
        """The deserialized payload stream the processor consumes:
        ``payload`` column (struct per ``message_schema``, or raw binary
        when schema is None) plus the bus metadata columns."""
        options = {opt: getattr(self, name)
                   for name, opt in SOURCE_OPTIONS.items()
                   if getattr(self, name) is not None}
        return DataFrame(self.spark._jvm.graft.streaming.PyPipeline.stream(
            self.spark._jsparkSession, self.incoming_subscription, self.bus,
            self.message_schema, options), self.spark)

    def start(self, available_now: bool = False):
        """Start the pipeline; returns the pyspark StreamingQuery.
        The JVM half serializes every processor-output column into one
        JSON payload and publishes per partition; the bus source acks
        each batch once it is in the checkpoint's commit log."""
        out = self.processor(self.stream())
        jquery = self.spark._jvm.graft.streaming.PyPipeline.start(
            out._jdf, self.outgoing_topic,
            self.bus, self.checkpoint_dir, available_now, self.idempotent)
        from pyspark.sql.streaming import StreamingQuery
        return StreamingQuery(jquery)

    def process(self, timeout_ms: int = 300000):
        """The reference's ``process()`` in bounded form: drain the
        backlog (Trigger.AvailableNow) and return. The reference's
        max_processed_messages counter is superseded by the bounded
        trigger -- including its documented ``==`` overshoot quirk."""
        q = self.start(available_now=True)
        q.awaitTermination(timeout_ms)
        return q


class BulkPubSubPipeline(PubSubPipeline):
    """The reference's bulk variant (``pubsub_pipeline.py:214-242``):
    the processor receives the whole pulled batch at once. In DataFrame
    land every processor already sees the micro-batch, so this is the
    same class; it exists so migrating code keeps its type name. The
    reference's length-preservation hazard (results zipped with
    messages) does not arise: each output row serializes and publishes
    independently of input row count."""
