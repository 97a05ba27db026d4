package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The PySpark-facing half of the runner (r13 "What's missing #2" — the
  * reference's `processor` slot is a PYTHON callable,
  * `pubsub_pipeline.py:62`): Python owns the TRANSFORM — a plain
  * PySpark `DataFrame -> DataFrame` function over the deserialized
  * payload stream, including pandas UDFs, so the actual row processing
  * runs in Python workers on executors exactly like the reference's
  * processor — while the JVM keeps everything the transform should not
  * reimplement: the DSv2 bus source (pull/retry/lease), the
  * executor-side chunked publish sink, and ack-on-publish-success.
  *
  * The seam is py4j-shaped on purpose: Python builds the TRANSFORMED
  * streaming DataFrame with its own `spark.readStream.format(...)` (a
  * format NAME crosses py4j as a string; the user's Python closure
  * never has to cross into the JVM), then hands the underlying Java
  * DataFrame to [[start]], which serializes every column to one JSON
  * `data` payload, publishes per partition in the JVM (no
  * collect-to-driver, no py4j round trip per row — the gateway is
  * driver-only, so a Python-side publish loop could never be
  * distributed), and acks the subscription on each durable batch via
  * [[AckOnCommitListener]] — the reference's Acknowledger ordering with
  * a WAL under it. `python/graft_pubsub.py` is the shim that assembles
  * the whole reference constructor surface on top of this. */
object PyPipeline {

  /** Start the publish+ack half over an already-transformed STREAMING
    * frame reading the bus source. Every column of `out` is serialized
    * into one JSON object per row (the default result_serializer
    * shape); `idempotent = true` uses the content-keyed replay-stable
    * publish (effective exactly-once, [[Pipeline]]'s contract).
    * Returns the started query; the caller (Python) polls/stops it
    * through the normal PySpark StreamingQuery surface. */
  def start(out: DataFrame, subscription: String, outTopic: String,
            busSpec: String, checkpointDir: String,
            availableNow: Boolean, idempotent: Boolean): StreamingQuery =
    Pipeline.startPublish(out, c => to_json(c).cast("binary"), subscription,
      outTopic, busSpec, checkpointDir, availableNow, idempotent)
}
