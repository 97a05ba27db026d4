package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.streaming.JsonSerde

/** What the outside-in instruments saw during one traced phase. */
final class LayerStats(val streams: StreamCollector, val tasks: TaskCollector)

final case class Captured[T](value: T, stats: LayerStats)

object Traced {

  /** Run `body` with every instrument recording: spans on, bus counters
    * reset, a `StreamingQueryListener` and a `SparkListener` attached.
    * Listener events are delivered asynchronously, so the listeners stay
    * attached briefly after `body` returns. */
  def capture[T](spark: SparkSession, ctx: Ctx)(body: => T): Captured[T] = {
    val streams = new StreamCollector
    val tasks = new TaskCollector
    spark.streams.addListener(streams)
    spark.sparkContext.addSparkListener(tasks)
    TimedBus.resetStats()
    Tracer.enabled = true
    val v = try body finally {
      Thread.sleep(1000L)
      Tracer.enabled = false
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(tasks)
    }
    ctx.log(s"traced phase: ${Tracer.all.size} spans recorded")
    Captured(v, new LayerStats(streams, tasks))
  }

  private def ms(ns: Long): Double = ns / 1e6

  /** Per-layer metrics of the bus, streaming engine and Spark execution. */
  def streamLayers(s: LayerStats): Map[String, Double] = {
    val b = TimedBus
    val published = b.publish.items.sum.toDouble
    val lags = b.readLagMs.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).toSeq
    val mb = s.streams.medianBatch
    val bs = s.streams.batches
    Map(
      "sources.read.calls" -> b.read.calls.sum.toDouble,
      "sources.read.msgs" -> b.read.items.sum.toDouble,
      "sources.read.busy_ms" -> ms(b.read.busyNs.sum),
      "sources.publish.calls" -> b.publish.calls.sum.toDouble,
      "sources.publish.msgs" -> published,
      "sources.publish.busy_ms" -> ms(b.publish.busyNs.sum),
      "sources.publish.appended_ratio" ->
        (if (published == 0) 0.0 else b.appended.sum / published),
      "sources.end_offset.calls" -> b.endOffsetOp.calls.sum.toDouble,
      "sources.end_offset.busy_ms" -> ms(b.endOffsetOp.busyNs.sum),
      "sources.commit.calls" -> b.commitOp.calls.sum.toDouble,
      "sources.commit.busy_ms" -> ms(b.commitOp.busyNs.sum),
      "sources.read_lag.p50_ms" -> (if (lags.isEmpty) 0.0 else Stats.median(lags)),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.rows_per_batch.p50" ->
        (if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.numInputRows.toDouble)))) ++
      mb.map { case (k, v) => s"streaming.$k.p50_ms" -> v } ++
      sparkLayers(s.tasks)
  }

  def sparkLayers(t: TaskCollector): Map[String, Double] = Map(
    "spark.tasks" -> t.total.tasks.toDouble,
    "spark.executor_cpu_ms" -> t.total.cpuNs / 1e6,
    "spark.executor_run_ms" -> t.total.runMs.toDouble,
    "spark.shuffle_write_bytes" -> t.total.shuffleWrite.toDouble,
    "spark.task_skew.max" -> t.skewMax)

  /** Tracing overhead: the traced end-to-end numbers relative to the
    * untraced ones of the same run, as a signed fraction. */
  def overhead(plain: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    Seq("pipeline_cpu_ms_per_batch", "cpu_ms_per_kmsg", "throughput_msgs_per_s",
      "latency_p50_ms").map { k =>
      s"trace.overhead.$k" -> (traced(k) - plain(k)) / plain(k)
    }.toMap
}

/** Serde micro-timing: `JsonSerde.deserialize` / `serialize` over a static,
  * cached DataFrame of the workload's own payloads, net of the same job
  * that only hashes its input. */
object Serde {
  def timing(spark: SparkSession, msgs: Seq[Msg]): Map[String, Double] = {
    import spark.implicits._
    val serde = JsonSerde(Payload.schema)
    def force(df: org.apache.spark.sql.DataFrame, c: String): Double = {
      val t0 = System.nanoTime()
      df.select(xxhash64(col(c)).as("h")).agg(expr("bit_xor(h)")).head()
      (System.nanoTime() - t0).toDouble
    }
    def settled(df: org.apache.spark.sql.DataFrame, c: String): Double = {
      force(df, c)
      Stats.median((1 to 5).map(_ => force(df, c)))
    }
    val n = msgs.size.toDouble
    val raw = msgs.map(_.bytes).toDF("value").cache()
    val base = settled(raw, "value")
    // time the decode before its result is cached: the cache would
    // otherwise answer the same plan without parsing
    val dec = raw.select(serde.deserialize(col("value")).as("p"))
    val decodeNs = settled(dec, "p") - base
    val decoded = dec.cache()
    val baseDecoded = settled(decoded, "p")
    val encodeNs = settled(decoded.select(serde.serialize(col("p")).as("v")), "v") - baseDecoded
    val out = Map(
      "streaming.serde.decode_ns_per_msg" -> math.max(0.0, decodeNs / n),
      "streaming.serde.encode_ns_per_msg" -> math.max(0.0, encodeNs / n))
    raw.unpersist(); decoded.unpersist()
    out
  }
}
