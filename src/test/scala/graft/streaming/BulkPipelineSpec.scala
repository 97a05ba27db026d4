package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.InMemoryBus

/** BulkPipeline (`BulkPubSubPipeline`, `pubsub_pipeline.py:214-242`) and
  * BusTestClient (`test_client.py`) behavior.
  */
class BulkPipelineSpec extends SparkSpec {

  private def fresh(prefix: String): (String, String, String, String) = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val t = (s"$prefix-in-$id", s"$prefix-insub-$id", s"$prefix-out-$id", s"$prefix-outsub-$id")
    InMemoryBus.createTopic(t._1); InMemoryBus.createSubscription(t._1, t._2)
    InMemoryBus.createTopic(t._3); InMemoryBus.createSubscription(t._3, t._4)
    t
  }

  private def awaitCommitted(sub: String, expect: Long, timeoutMs: Long = 20000): Long = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline &&
      InMemoryBus.committedOffset(sub) < expect) Thread.sleep(50)
    InMemoryBus.committedOffset(sub)
  }

  test("bulk transform sees the batch as a whole and is acked after publish") {
    val (inTopic, inSub, outTopic, outSub) = fresh("b1")
    val client = new BusTestClient(inTopic, outSub, _ => ())
    (1 to 5).foreach(i => client.publish(s"v$i".getBytes(UTF_8)))

    // bulk processor: tags each element with the batch size it arrived in
    val q = new BulkPipeline[String, String](
      spark, inSub, outTopic,
      b => new String(b, UTF_8),
      (s: String) => s.getBytes(UTF_8),
      batch => batch.map(s => s"$s/${batch.size}"),
      Files.createTempDirectory("bulk-ckpt").toString).start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
    assert(out.size === 5)
    // whole pulled batch visible at once (list-at-a-time semantics)
    assert(out.forall(_.endsWith("/5")))
    assert(awaitCommitted(inSub, 5) === 5)
  }

  test("with readPartitions > 1 each source slice of the batch is one bulk") {
    val (inTopic, inSub, outTopic, outSub) = fresh("b5")
    (1 to 20).foreach(i => InMemoryBus.publish(inTopic, s"v$i".getBytes(UTF_8)))

    // 20 messages in one batch, read as 4 even slices of 5: no exchange or
    // coalesce may sit between the scan and the bulk
    val q = new BulkPipeline[String, String](
      spark, inSub, outTopic,
      b => new String(b, UTF_8),
      (s: String) => s.getBytes(UTF_8),
      batch => batch.map(s => s"$s/${batch.size}"),
      Files.createTempDirectory("bulk-ckpt").toString,
      bulkLimit = 20, readPartitions = 4).start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8))
    assert(out.size === 20)
    assert(out.forall(_.endsWith("/5")), out)
    assert(awaitCommitted(inSub, 20) === 20)
  }

  test("non-length-preserving bulk transform fails the batch — nothing acked") {
    val (inTopic, inSub, outTopic, _) = fresh("b2")
    (1 to 3).foreach(i => InMemoryBus.publish(inTopic, s"v$i".getBytes(UTF_8)))

    val q = new BulkPipeline[String, String](
      spark, inSub, outTopic,
      b => new String(b, UTF_8), (s: String) => s.getBytes(UTF_8),
      batch => batch.drop(1), // silently drops one — the reference's §2-D bug
      Files.createTempDirectory("bulk-ckpt").toString).start(availableNow = true)
    intercept[Exception] { q.awaitTermination(60000) }
    Thread.sleep(500)
    assert(InMemoryBus.committedOffset(inSub) === 0)
  }

  test("BusTestClient async subscribe streams pipeline output to the callback") {
    val (inTopic, inSub, outTopic, outSub) = fresh("b4")
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val client = new BusTestClient(inTopic, outSub,
      b => received.add(new String(b, UTF_8))).subscribe()
    try {
      (1 to 3).foreach(i =>
        client.publish(s"""{"data":"a$i","nested":{"nestedData":"w"}}""".getBytes(UTF_8)))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("data", "string")
        .add("nested", new org.apache.spark.sql.types.StructType().add("nestedData", "string"))
      val q = new Pipeline(spark, inSub, outTopic, JsonSerde(schema),
        df => df.select(org.apache.spark.sql.functions.col("payload.*")),
        Files.createTempDirectory("tc-ckpt").toString).start(availableNow = true)
      q.awaitTermination(60000)
      // no explicit drain: the background consumer must deliver and ack
      val deadline = System.currentTimeMillis + 20000
      while (System.currentTimeMillis < deadline && received.size < 3) Thread.sleep(50)
      assert(received.size === 3)
      assert(InMemoryBus.committedOffset(outSub) === 3) // acked by consumer
    } finally client.close()
  }

  test("BusTestClient round trip: publish → pipeline → drain with callback") {
    val (inTopic, inSub, outTopic, outSub) = fresh("b3")
    val received = scala.collection.mutable.ArrayBuffer[String]()
    val client = new BusTestClient(inTopic, outSub, b => received += new String(b, UTF_8))

    client.publish("""{"data":"hello","nested":{"nestedData":"w"}}""".getBytes(UTF_8))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("data", "string")
      .add("nested", new org.apache.spark.sql.types.StructType().add("nestedData", "string"))
    val q = new Pipeline(spark, inSub, outTopic, JsonSerde(schema),
      df => df.select(org.apache.spark.sql.functions.col("payload.*")),
      Files.createTempDirectory("tc-ckpt").toString).start(availableNow = true)
    q.awaitTermination(60000)

    assert(client.drain() === 1)
    assert(received.toSeq === Seq("""{"data":"hello","nested":{"nestedData":"w"}}"""))
    assert(client.drain() === 0) // acked — a second drain sees nothing
  }
}
