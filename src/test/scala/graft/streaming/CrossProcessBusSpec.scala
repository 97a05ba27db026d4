package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.sources.SocketBus

/** The pipeline contracts against a bus daemon in its OWN PROCESS
  * (r8 verdict #1): the DSv2 source pulls, the sink publishes, and the
  * source acks each committed batch — all over the socket transport to
  * a separate JVM, so the ack-on-publish-success guarantee
  * (`pubsub_pipeline.py:82-84`) is proven across a real process
  * boundary, like the reference's own cross-process harness
  * (`test_client.py:6-31`). Fault injection ALSO rides the wire, so the
  * retry contract is exercised end-to-end cross-process.
  */
class CrossProcessBusSpec extends SparkSpec with BeforeAndAfterAll {

  private var daemon: Process = _
  private var port: Int = 0
  private var bus: SocketBus = _
  private def spec = s"socket://127.0.0.1:$port"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val (p, bound) = ProcSupport.startDaemon()
    daemon = p
    port = bound
    bus = new SocketBus("127.0.0.1", port)
    bus.ping()
  }

  override def afterAll(): Unit = {
    if (daemon != null) ProcSupport.stop(daemon)
    super.afterAll()
  }

  private def fresh(prefix: String): (String, String, String, String) = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val inTopic = s"$prefix-in-$id"; val inSub = s"$prefix-insub-$id"
    val outTopic = s"$prefix-out-$id"; val outSub = s"$prefix-outsub-$id"
    bus.createTopic(inTopic)
    bus.createSubscription(inTopic, inSub)
    bus.createTopic(outTopic)
    bus.createSubscription(outTopic, outSub)
    (inTopic, inSub, outTopic, outSub)
  }

  private val payloadSchema = new StructType().add("data", "string")

  private def awaitCommitted(sub: String, expect: Long, timeoutMs: Long = 30000): Long = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline &&
      bus.committedOffset(sub) < expect) Thread.sleep(50)
    bus.committedOffset(sub)
  }

  test("ack-on-publish-success across the process boundary") {
    val (inTopic, inSub, outTopic, outSub) = fresh("xp1")
    (1 to 5).foreach(i =>
      bus.publish(inTopic, s"""{"data":"msg-$i"}""".getBytes(UTF_8)))
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-xp").toString,
      busSpec = spec).start(availableNow = true)
    q.awaitTermination(120000)
    val out = bus.payloads(outSub).map(new String(_, UTF_8)).sorted
    assert(out == (1 to 5).map(i => s"""{"data":"msg-$i"}""").sorted)
    // the ack landed IN THE DAEMON, not in this JVM's singleton — the
    // in-memory bus has never even heard of this subscription
    assert(awaitCommitted(inSub, 5) == 5)
    intercept[IllegalArgumentException](
      graft.sources.InMemoryBus.committedOffset(inSub))
  }

  test("transient pull failures injected through the wire are retried through the wire") {
    val (inTopic, inSub, outTopic, outSub) = fresh("xp2")
    (1 to 3).foreach(i =>
      bus.publish(inTopic, s"""{"data":"r-$i"}""".getBytes(UTF_8)))
    bus.failNextPulls(inSub, 2) // two DeadlineExceeded, then healthy
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-xp").toString,
      retryBackoffMs = 10L,
      busSpec = spec).start(availableNow = true)
    q.awaitTermination(120000)
    assert(bus.payloads(outSub).size == 3)
    assert(awaitCommitted(inSub, 3) == 3)
  }

  test("bulk pipeline (length-enforced) runs cross-process") {
    val (inTopic, inSub, outTopic, outSub) = fresh("xp3")
    (1 to 4).foreach(i => bus.publish(inTopic, s"b-$i".getBytes(UTF_8)))
    val q = new BulkPipeline[String, String](
      spark, inSub, outTopic,
      deserializer = b => new String(b, UTF_8),
      serializer = s => s.getBytes(UTF_8),
      bulk = xs => xs.map(_.toUpperCase),
      checkpointDir = Files.createTempDirectory("graft-xp").toString,
      busSpec = spec).start(availableNow = true)
    q.awaitTermination(120000)
    assert(bus.payloads(outSub).map(new String(_, UTF_8)).sorted ==
      (1 to 4).map(i => s"B-$i").sorted)
    assert(awaitCommitted(inSub, 4) == 4)
  }

  test("windowed aggregation over the socket source (publishTime tumbling)") {
    val (inTopic, inSub, _, _) = fresh("xp4")
    // the daemon's deterministic logical clock spaces publishTimes 1ms
    // apart, so all 6 land in one 1-minute tumbling window
    (1 to 6).foreach(i => bus.publish(inTopic, s"w-$i".getBytes(UTF_8)))
    val counts = new java.util.concurrent.ConcurrentHashMap[java.sql.Timestamp, Long]()
    val q = spark.readStream
      .format(graft.sources.BusProvider.format)
      .option("subscription", inSub)
      .option("bus", spec)
      .option("bulkLimit", 100)
      .load()
      .withWatermark("publishTime", "1 minute")
      .groupBy(window(col("publishTime"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft-xp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          counts.put(r.getStruct(0).getTimestamp(0), r.getLong(1)))
      }
      .start()
    q.awaitTermination(120000)
    assert(counts.values().iterator().next() == 6L,
      s"expected one window of 6, got $counts")
  }
}
