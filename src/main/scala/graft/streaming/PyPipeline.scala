package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DataType

/** The PySpark-facing half of the runner and the Python path's only JVM
  * seam (the reference's `processor` slot is a PYTHON callable,
  * `pubsub_pipeline.py:62`). Python owns the TRANSFORM, a PySpark
  * `DataFrame -> DataFrame` function (pandas UDFs included, so rows are
  * processed in Python workers on executors, as the reference did). The
  * JVM keeps the rest, through the code [[Pipeline]] runs: [[stream]] is
  * [[Pipeline.busStream]], the one bus source set-up, whose options and
  * defaults live in the source alone; [[start]] is [[Pipeline.startPublish]],
  * the one executor-side publish sink (no collect-to-driver, no py4j call
  * per row); the source acks each batch once it is committed.
  * `python/graft_pubsub.py` builds the reference constructor on top. */
object PyPipeline {

  /** The bus source with `payload` as JSON in the DDL schema `schemaDDL`,
    * or the raw bytes when it is null. `busSpec` (may be null) and
    * `options` hold only what the caller set; the rest keep the source's
    * defaults. */
  def stream(spark: SparkSession, subscription: String, busSpec: String,
             schemaDDL: String, options: java.util.Map[String, Any]): DataFrame =
    Pipeline.busStream(spark, subscription, busSpec,
      if (schemaDDL == null) BytesSerde else JsonSerde(DataType.fromDDL(schemaDDL)),
      options.asScala.toSeq: _*)

  /** Start the publish half over an already-transformed STREAMING frame
    * reading the bus source. Every column of `out` is serialized into
    * one JSON object per row (the default result_serializer shape);
    * `idempotent = true` uses the content-keyed replay-stable publish
    * (effective exactly-once, [[Pipeline]]'s contract). Python polls and
    * stops the returned query as a PySpark StreamingQuery. */
  def start(out: DataFrame, outTopic: String,
            busSpec: String, checkpointDir: String,
            availableNow: Boolean, idempotent: Boolean): StreamingQuery =
    Pipeline.startPublish(out, JsonSerde.toJsonBytes,
      outTopic, busSpec, checkpointDir, availableNow, idempotent)
}
