package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.sources.InMemoryBus

/** The three behavioral contracts ported from the reference's test suite
  * (SURVEY §5.2-1; `test_pubsub_pipeline.py:56-143`), plus admission
  * control, run against the in-memory bus through the full
  * readStream→transform→publish→ack path.
  */
class PipelineSpec extends SparkSpec {

  private def fresh(prefix: String): (String, String, String, String) = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val inTopic = s"$prefix-in-$id"; val inSub = s"$prefix-insub-$id"
    val outTopic = s"$prefix-out-$id"; val outSub = s"$prefix-outsub-$id"
    InMemoryBus.createTopic(inTopic)
    InMemoryBus.createSubscription(inTopic, inSub)
    InMemoryBus.createTopic(outTopic)
    InMemoryBus.createSubscription(outTopic, outSub)
    (inTopic, inSub, outTopic, outSub)
  }

  private val payloadSchema = new StructType()
    .add("data", "string")
    .add("nested", new StructType().add("nestedData", "string"))

  // The reference's single test fixture (test_pubsub_pipeline.py:28-34).
  private val fixture =
    """{"data":"This is some json data that is to processed","nested":{"nestedData":"This is just some more data"}}"""

  /** Acks arrive via an async listener after epoch commit — poll. */
  private def awaitCommitted(sub: String, expect: Long, timeoutMs: Long = 20000): Long = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline &&
      InMemoryBus.committedOffset(sub) < expect) Thread.sleep(50)
    InMemoryBus.committedOffset(sub)
  }

  /** Simulate "published, then crashed with both the epoch commit AND
    * the acks lost" — the reference's §2-D duplicate window
    * (pubsub_pipeline.py:48-52): drop batch 0's commit record and rewind
    * the bus acks so a restart on `ckpt` redelivers batch 0. */
  private def crashBeforeCommit(inSub: String, ckpt: java.nio.file.Path,
                                q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    InMemoryBus.rewindCommitted(inSub, 0)
    java.nio.file.Files.delete(ckpt.resolve("commits").resolve("0"))
    // a checkpoint written by Spark's default manager keeps a Hadoop
    // checksum shadow, and leaving it behind makes that manager's
    // commit-log rewrite look like a concurrent writer (the java.nio
    // manager the runners install writes no shadow)
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".0.crc"))
    // wait for q's checkpoint lease to be released before restarting
    val deadline = System.currentTimeMillis + 20000
    while (System.currentTimeMillis < deadline &&
      spark.streams.active.exists(_.runId == q.runId)) Thread.sleep(50)
    Thread.sleep(250)
  }

  private def identityPipeline(inSub: String, outTopic: String,
                               bulkLimit: Int = 20): Pipeline =
    new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      // identity processor (test_pubsub_pipeline.py:37-38): pass the
      // payload struct through untouched
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-ckpt").toString,
      bulkLimit)

  test("contract 1: ack on successful publish + payload integrity") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c1")
    (1 to 3).foreach(_ => InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8)))

    val q = identityPipeline(inSub, outTopic).start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8))
    assert(out.size === 3)
    // payload round-trips JSON-equal (assert of test_pubsub_pipeline.py:60-61)
    assert(out.forall(_ === fixture))
    // input acked only after publish: committed == everything
    assert(awaitCommitted(inSub, 3) === 3)
  }

  test("contract 2: no ack when publish fails; restart replays the batch") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c2")
    InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8))
    InMemoryBus.failNextPublishes(outTopic, 10)

    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def pipe(): Pipeline = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt)

    val q1 = pipe().start(availableNow = true)
    intercept[Exception] { q1.awaitTermination(60000) }
    // publish failed → input NOT acked (test_pubsub_pipeline.py:90,93);
    // give the async listener time to (wrongly) ack before asserting
    Thread.sleep(1000)
    assert(InMemoryBus.committedOffset(inSub) === 0)
    assert(InMemoryBus.payloads(outSub).isEmpty)

    // recover the bus, restart from the same checkpoint → batch replays
    InMemoryBus.failNextPublishes(outTopic, 0)
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)) === Seq(fixture))
    assert(awaitCommitted(inSub, 1) === 1)
  }

  test("contract 3: transient pull error is retried, message still processed") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c3")
    InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8))
    // first pulls raise DeadlineExceeded-style errors
    // (test_pubsub_pipeline.py:107-143); source retries iteratively
    InMemoryBus.failNextPulls(inSub, 2)

    val q = identityPipeline(inSub, outTopic).start(availableNow = true)
    q.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)) === Seq(fixture))
    assert(awaitCommitted(inSub, 1) === 1)
  }

  test("admission control: bulkLimit caps each micro-batch like bulk_limit") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c4")
    (1 to 50).foreach(i => InMemoryBus.publish(inTopic, s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))

    val q = identityPipeline(inSub, outTopic, bulkLimit = 20).start(availableNow = true)
    q.awaitTermination(60000)
    // all 50 processed (>= semantics — no == overshoot hang, SURVEY §2-D)
    assert(InMemoryBus.payloads(outSub).size === 50)
    assert(awaitCommitted(inSub, 50) === 50)
    // and no batch exceeded the admission cap
    assert(q.recentProgress.forall(_.numInputRows <= 20))
  }

  test("graceful stop between micro-batches resumes from checkpoint without loss") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c6")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def pipe(): Pipeline = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt)

    (1 to 3).foreach(_ => InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8)))
    val q1 = pipe().start(availableNow = true)
    q1.awaitTermination(60000)
    // the GracefulKiller analog: stop between batches
    // (pubsub_pipeline.py:147-154); AvailableNow already stopped cleanly
    assert(!q1.isActive)
    assert(awaitCommitted(inSub, 3) === 3)

    // more traffic while "the VM was preempted", then restart same ckpt
    (1 to 2).foreach(_ => InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8)))
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    // no loss, no duplicates across the stop/resume boundary
    assert(InMemoryBus.payloads(outSub).size === 5)
    assert(awaitCommitted(inSub, 5) === 5)
  }

  test("batch replay after crash-before-commit: duplicates by default, absorbed with idempotent keys") {
    def replayScenario(idempotent: Boolean): Int = {
      val (inTopic, inSub, outTopic, outSub) = fresh(s"c7-$idempotent")
      (1 to 3).foreach(_ => InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8)))
      val ckpt = Files.createTempDirectory("graft-ckpt")
      def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
        df => df.select(col("payload.*")), ckpt.toString, 20, idempotent)
      val q1 = pipe().start(availableNow = true)
      q1.awaitTermination(60000)
      assert(InMemoryBus.payloads(outSub).size === 3)
      crashBeforeCommit(inSub, ckpt, q1)
      val q2 = pipe().start(availableNow = true)
      q2.awaitTermination(60000)
      InMemoryBus.payloads(outSub).size
    }
    // default = the reference's at-least-once: the replay re-publishes
    assert(replayScenario(idempotent = false) === 6)
    // idempotent keys absorb the replay: effective exactly-once
    assert(replayScenario(idempotent = true) === 3)
  }

  test("idempotent replay absorbed under a CHANGED shuffle-partition setting") {
    // a replay after restart may run under a different session config;
    // keys derived from a row's partition id and position would rebind
    // and re-publish the whole batch under new keys. Keys are (content
    // hash, rank within that hash), independent of any partition count;
    // this replays batch 0 with the setting changed to 5 and expects
    // zero duplicates.
    val (inTopic, inSub, outTopic, outSub) = fresh("c7-conf")
    (1 to 20).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt.toString, 20, idempotent = true)
    val q1 = pipe().start(availableNow = true)
    q1.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).size === 20)
    crashBeforeCommit(inSub, ckpt, q1)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try {
      val q2 = pipe().start(availableNow = true)
      q2.awaitTermination(60000)
      assert(InMemoryBus.payloads(outSub).size === 20,
        "replay under a different shuffle-partition setting produced duplicates")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("idempotence keys do not depend on the key-shuffle width") {
    import spark.implicits._
    // repeated payloads ("a" x3, "b" x2) and distinct ones; the sink's
    // width follows the cores, so a replay on a different machine must
    // rebuild the same (key, payload) set
    val payloads = Seq("a", "b", "a", "c", "a", "b") ++ (1 to 30).map(i => s"m$i")
    val batch = payloads.map(_.getBytes(UTF_8)).toDF("data").repartition(3)
    def keyed(width: Int): Set[(String, String)] = {
      val ks = Pipeline.idempotenceKeys(batch, width)
      assert(ks.size === payloads.size)
      ks.map { case (k, d) => (k, new String(d, UTF_8)) }.toSet
    }
    val at1 = keyed(1)
    assert(at1.size === payloads.size, "two rows share a key")
    assert(keyed(4) === at1)
    assert(keyed(64) === at1)
    // equal payloads differ only by rank
    assert(at1.filter(_._2 == "a").map(_._1.split('-').last) === Set("0", "1", "2"))
  }

  test("idempotence keys rank colliding hashes by payload: a collision drops no row") {
    // distinct payloads under one hash get distinct ranks, in payload order
    val rows = Iterator(
      org.apache.spark.sql.Row(7L, "x".getBytes(UTF_8)),
      org.apache.spark.sql.Row(7L, "y".getBytes(UTF_8)),
      org.apache.spark.sql.Row(7L, "y".getBytes(UTF_8)),
      org.apache.spark.sql.Row(9L, "x".getBytes(UTF_8)))
    val keys = Pipeline.ranked(rows).map { case (k, d) => (k, new String(d, UTF_8)) }.toSeq
    assert(keys === Seq("7-0" -> "x", "7-1" -> "y", "7-2" -> "y", "9-0" -> "x"))
  }

  test("equal-content rows in one idempotent batch: each is published, replay absorbed") {
    // every input maps to the SAME output row: a key on the content hash
    // alone would keep one of the 40, so only the rank keeps them apart
    val (inTopic, inSub, outTopic, outSub) = fresh("c7-same")
    (1 to 40).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(lit("same").as("d")), ckpt.toString,
      bulkLimit = 40, idempotent = true, readPartitions = 4)
    val q1 = pipe().start(availableNow = true)
    q1.awaitTermination(60000)
    // all 40 in one micro-batch, so the equal rows share one batchId
    assert(q1.recentProgress.map(_.numInputRows).max === 40)
    assert(InMemoryBus.payloads(outSub).size === 40)
    crashBeforeCommit(inSub, ckpt, q1)
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8))
    assert(out.size === 40, "replay of equal-content rows was not absorbed")
    assert(out.forall(_ === """{"d":"same"}"""))
    assert(awaitCommitted(inSub, 40) === 40)
  }

  test("PyPipeline idempotent replay after crash-before-commit is fully absorbed") {
    // the PySpark seam: the caller hands over an already-transformed
    // streaming frame; the JVM publishes and acks through the same sink
    val (inTopic, inSub, outTopic, outSub) = fresh("c7-py")
    (1 to 5).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def start() = PyPipeline.start(
      spark.readStream.format(graft.sources.BusProvider.format)
        .option("subscription", inSub).load()
        .withColumn("payload", JsonSerde(payloadSchema).deserialize(col("value")))
        .select(col("payload.data").as("data")),
      inSub, outTopic, "memory", ckpt.toString,
      availableNow = true, idempotent = true)
    val q1 = start()
    q1.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).size === 5)
    crashBeforeCommit(inSub, ckpt, q1)
    val q2 = start()
    q2.awaitTermination(60000)
    // no duplicates AND no silent drops
    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
    assert(out === (1 to 5).map(i => s"""{"data":"m$i"}"""))
    assert(awaitCommitted(inSub, 5) === 5)
  }

  test("a large micro-batch is read by multiple source partitions; output and acks unchanged") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c8")
    (1 to 40).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))

    // tag each row with the partition that read it: deserialize is narrow,
    // so spark_partition_id() here reflects the SOURCE input partition
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.data").as("d"), spark_partition_id().as("pid")),
      Files.createTempDirectory("graft-ckpt").toString,
      bulkLimit = 40, readPartitions = 4).start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8))
    assert(out.size === 40)
    val pids = out.flatMap(s => "\"pid\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1))).toSet
    assert(pids.size > 1, s"expected the batch to span >1 read partitions, got $pids")
    assert(awaitCommitted(inSub, 40) === 40)
  }

  test("respectDeadline fails fast on a transient pull error instead of retrying") {
    val (inTopic, inSub, outTopic, _) = fresh("c9")
    InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8))
    InMemoryBus.failNextPulls(inSub, 1)

    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-ckpt").toString,
      bulkLimit = 20, idempotent = false, readPartitions = 4,
      retryBackoffMs = 0L, respectDeadline = true).start(availableNow = true)
    intercept[Exception] { q.awaitTermination(60000) }
    assert(InMemoryBus.committedOffset(inSub) === 0)
  }

  test("retry backoff sleeps between transient-pull retries") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c10")
    InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8))
    InMemoryBus.failNextPulls(inSub, 2)

    val t0 = System.nanoTime()
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-ckpt").toString,
      bulkLimit = 20, idempotent = false, readPartitions = 4,
      retryBackoffMs = 300L).start(availableNow = true)
    q.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)) === Seq(fixture))
    // two injected failures × 300 ms backoff = at least 600 ms of sleeping
    assert((System.nanoTime() - t0) / 1e6 >= 600.0)
  }

  test("maxBytesPerPull caps each micro-batch by payload bytes") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c11")
    // ~42-byte messages; a 100-byte budget admits at most 2 per batch
    (1 to 10).foreach(i => InMemoryBus.publish(inTopic,
      f"""{"data":"m$i%02d","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))

    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-ckpt").toString,
      bulkLimit = 20, idempotent = false, readPartitions = 4,
      retryBackoffMs = 0L, respectDeadline = false,
      maxBytesPerPull = 100L).start(availableNow = true)
    q.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).size === 10)
    assert(awaitCommitted(inSub, 10) === 10)
    assert(q.recentProgress.forall(_.numInputRows <= 2),
      s"batch sizes: ${q.recentProgress.map(_.numInputRows).toSeq}")
  }

  test("idempotent keys are scoped per pipeline: shared output topic, no collision") {
    // two logical pipelines (distinct checkpoints) feeding ONE topic with
    // identical content and identical batchIds: index-only keys ("0-0-0")
    // would collide across pipelines and silently drop one side's output
    val id = java.util.UUID.randomUUID().toString.take(8)
    val outTopic = s"c12-out-$id"; val outSub = s"c12-outsub-$id"
    InMemoryBus.createTopic(outTopic); InMemoryBus.createSubscription(outTopic, outSub)
    Seq("a", "b").foreach { side =>
      val inTopic = s"c12-in-$side-$id"; val inSub = s"c12-insub-$side-$id"
      InMemoryBus.createTopic(inTopic); InMemoryBus.createSubscription(inTopic, inSub)
      InMemoryBus.publish(inTopic, fixture.getBytes(UTF_8))
      val q = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
        df => df.select(col("payload.*")),
        Files.createTempDirectory("graft-ckpt").toString,
        bulkLimit = 20, idempotent = true).start(availableNow = true)
      q.awaitTermination(60000)
    }
    assert(InMemoryBus.payloads(outSub).size === 2)
  }

  test("idempotent replay is absorbed even when the transform shuffles") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c13")
    (1 to 3).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt")
    // repartition = a shuffle between source and publish: replayed rows
    // can land in different partitions/positions, so index-based keys
    // would re-bind and silently drop rows; content-derived keys must not
    def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")).repartition(5),
      ckpt.toString, 20, idempotent = true)
    val q1 = pipe().start(availableNow = true)
    q1.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).size === 3)
    // crash with the epoch commit and the acks both lost → batch replays
    crashBeforeCommit(inSub, ckpt, q1)
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    // replay fully absorbed: no duplicates AND no silent drops
    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
    assert(out.size === 3, s"got: $out")
    assert(out.map(s => "\"data\":\"(m\\d)\"".r.findFirstMatchIn(s).get.group(1))
      === Seq("m1", "m2", "m3"))
  }

  test("malformed payload: permissive serde yields null payload; failFast fails the batch unacked") {
    // permissive (default): corrupt JSON becomes a struct of null fields,
    // batch completes, transform filters — no poison-message livelock
    val (inTopicP, inSubP, outTopicP, outSubP) = fresh("c14p")
    InMemoryBus.publish(inTopicP, "NOT JSON {{{".getBytes(UTF_8))
    InMemoryBus.publish(inTopicP, fixture.getBytes(UTF_8))
    val qp = new Pipeline(spark, inSubP, outTopicP, JsonSerde(payloadSchema),
      df => df.filter(col("payload.data").isNotNull).select(col("payload.*")),
      Files.createTempDirectory("graft-ckpt").toString).start(availableNow = true)
    qp.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSubP).map(new String(_, UTF_8)) === Seq(fixture))
    assert(awaitCommitted(inSubP, 2) === 2) // corrupt message consumed+acked

    // failFast: the reference's crash semantics — batch fails, nothing
    // acked, the poison message redelivers on restart
    val (inTopicF, inSubF, outTopicF, outSubF) = fresh("c14f")
    InMemoryBus.publish(inTopicF, "NOT JSON {{{".getBytes(UTF_8))
    val qf = new Pipeline(spark, inSubF, outTopicF,
      JsonSerde(payloadSchema, failFast = true),
      df => df.select(col("payload.*")),
      Files.createTempDirectory("graft-ckpt").toString).start(availableNow = true)
    intercept[Exception] { qf.awaitTermination(60000) }
    Thread.sleep(500)
    assert(InMemoryBus.committedOffset(inSubF) === 0)
    assert(InMemoryBus.payloads(outSubF).isEmpty)
  }

  test("idempotent parquet sink: a replayed batch replaces its partition, no duplicates") {
    val (inTopic, inSub, _, _) = fresh("c18")
    (1 to 3).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val outDir = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def run(): Unit = {
      val q = spark.readStream
        .format(graft.sources.BusProvider.format)
        .option("subscription", inSub)
        .load()
        .withColumn("payload", JsonSerde(payloadSchema).deserialize(col("value")))
        .select(col("payload.data").as("data"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(Sinks.idempotentParquet(outDir) _)
        .start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(outDir).count() === 3)
    // crash after write, before the epoch commit → batch 0 replays
    java.nio.file.Files.delete(ckpt.resolve("commits").resolve("0"))
    java.nio.file.Files.deleteIfExists(ckpt.resolve("commits").resolve(".0.crc"))
    InMemoryBus.rewindCommitted(inSub, 0)
    Thread.sleep(250)
    run()
    // dynamic partition overwrite replaced batch_id=0 — still exactly 3 rows
    val out = spark.read.parquet(outDir)
    assert(out.count() === 3)
    assert(out.select("data").collect().map(_.getString(0)).sorted.toSeq
      === Seq("m1", "m2", "m3"))
  }

  test("two concurrent pipelines stay isolated: no cross-acks, no cross-publishes") {
    val (inA, subA, outA, outSubA) = fresh("c17a")
    val (inB, subB, outB, outSubB) = fresh("c17b")
    (1 to 3).foreach(_ => InMemoryBus.publish(inA, fixture.getBytes(UTF_8)))
    (1 to 5).foreach(_ => InMemoryBus.publish(inB, fixture.getBytes(UTF_8)))
    // both queries run in the same session simultaneously — the ack
    // listeners must each bind to their own runId/subscription
    val qA = identityPipeline(subA, outA).start(availableNow = true)
    val qB = identityPipeline(subB, outB).start(availableNow = true)
    qA.awaitTermination(60000); qB.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSubA).size === 3)
    assert(InMemoryBus.payloads(outSubB).size === 5)
    assert(awaitCommitted(subA, 3) === 3)
    assert(awaitCommitted(subB, 5) === 5)
  }

  test("stream-static dimension join in the transform slot enriches each message") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c16")
    // messages carry a region key; the transform joins the STATIC region
    // dim (broadcast — the standard stream-enrichment shape at any scale)
    Seq(0, 2).foreach(k => InMemoryBus.publish(inTopic,
      s"""{"data":"x","nested":{"nestedData":"$k"}}""".getBytes(UTF_8)))
    val regions = graft.Tables.region(spark, sf())
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df
        .select(col("payload.nested.nestedData").cast("int").as("r_regionkey"))
        .join(broadcast(regions), Seq("r_regionkey"))
        .select(col("r_regionkey"), col("r_name")),
      Files.createTempDirectory("graft-ckpt").toString).start(availableNow = true)
    q.awaitTermination(60000)
    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
    assert(out === Seq(
      """{"r_regionkey":0,"r_name":"AFRICA"}""",
      """{"r_regionkey":2,"r_name":"ASIA"}"""))
    assert(awaitCommitted(inSub, 2) === 2)
  }

  test("event-time windowed aggregation through the bus: finalized windows publish, open ones don't") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c15")
    // batch 1 (bulkLimit=3): three events in the 10:00 hour
    Seq("10:05", "10:20", "10:40").foreach(t => InMemoryBus.publish(inTopic,
      s"""{"user":1,"ets":"2024-01-01 $t:00","value":5}""".getBytes(UTF_8)))
    // batch 2: two events a day later — their event time advances the
    // watermark far past the 10:00 window, finalizing it
    Seq("09:00", "09:30").foreach(t => InMemoryBus.publish(inTopic,
      s"""{"user":1,"ets":"2024-01-02 $t:00","value":7}""".getBytes(UTF_8)))

    val schema = new org.apache.spark.sql.types.StructType()
      .add("user", "long").add("ets", "string").add("value", "long")
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(schema),
      df => df
        .select(col("payload.user").as("user"),
          to_timestamp(col("payload.ets")).as("ets"),
          col("payload.value").as("value"))
        .withWatermark("ets", "10 minutes")
        .groupBy(window(col("ets"), "1 hour"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
        .select(unix_timestamp(col("window.start")).as("ws"),
          col("cnt"), col("total")),
      Files.createTempDirectory("graft-ckpt").toString,
      bulkLimit = 3).start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8))
    // exactly the finalized 10:00 window: 3 events, sum 15. The day-2
    // window is still open (nothing advanced the watermark past it) and
    // must NOT have been published.
    assert(out.size === 1, s"published: $out")
    assert(out.head.contains("\"cnt\":3") && out.head.contains("\"total\":15"), out.head)
    assert(awaitCommitted(inSub, 5) === 5) // all inputs consumed + acked
  }

  test("operator library composes into the streaming transform slot") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c5")
    (1 to 4).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"value $i","nested":{"nestedData":"n"}}""".getBytes(UTF_8)))

    // non-identity processor: project + compute, same shape a batch
    // operator uses (the reference's arbitrary `processor` slot)
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(upper(col("payload.data")).as("u"),
        length(col("payload.data")).as("len")),
      Files.createTempDirectory("graft-ckpt").toString)
      .start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
    assert(out.size === 4)
    assert(out.head === """{"u":"VALUE 1","len":7}""")
  }

  test("corpus text ops (PII scrub + quality gate) run in the streaming slot") {
    val (inTopic, inSub, outTopic, outSub) = fresh("c10")
    InMemoryBus.publish(inTopic,
      """{"data":"contact bob@example.com or 555-123-4567 for details on the launch plan","nested":{"nestedData":"n"}}"""
        .getBytes(UTF_8))
    InMemoryBus.publish(inTopic,
      """{"data":"too short","nested":{"nestedData":"n"}}""".getBytes(UTF_8))

    // the batch library's COLUMN forms compose into streaming unchanged
    // (the DataFrame operators end in orderBy for oracle determinism,
    // which append-mode streaming forbids — scrubPiiCol is the
    // streaming-safe surface); quality gate = a plain filter
    val q = new Pipeline(
      spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df
        .filter(size(filter(split(col("payload.data"), " "), t => t =!= "")) >= 5)
        .select(graft.operators.TextOps.scrubPiiCol(col("payload.data")).as("data")),
      Files.createTempDirectory("graft-ckpt").toString)
      .start(availableNow = true)
    q.awaitTermination(60000)

    val out = InMemoryBus.payloads(outSub).map(new String(_, UTF_8))
    assert(out.size === 1) // the short doc was gated out
    assert(out.head.contains("<EMAIL>") && out.head.contains("<PHONE>"),
      out.head)
    assert(!out.head.contains("bob@example.com") && !out.head.contains("555-123-4567"))
    // the batch still acks fully: gating drops rows, not messages
    assert(awaitCommitted(inSub, 2) === 2)
  }

  test("fault: partial pull under-reports the backlog — drain what was reported, pick up the rest, no loss") {
    val (inTopic, inSub, outTopic, outSub) = fresh("f1")
    (1 to 10).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt)
    // the service answers the next pull with only 3 messages past the
    // acked prefix, though 10 are available (real Pub/Sub behavior); the
    // bounded run snapshots its end from that one partial answer
    InMemoryBus.capNextPulls(inSub, 3, 1)
    val q1 = pipe().start(availableNow = true)
    q1.awaitTermination(60000)
    // the bounded run drains exactly what the service reported and acks
    // exactly that — never more than was seen, never a phantom ack
    val afterFirst = awaitCommitted(inSub, 3)
    assert(afterFirst >= 3 && afterFirst < 10)
    assert(InMemoryBus.payloads(outSub).size === afterFirst)
    // the next run picks up the remainder: no loss, no duplicates
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
      === (1 to 10).map(i => s"""{"data":"m$i","nested":{"nestedData":"x"}}""").sorted)
    assert(awaitCommitted(inSub, 10) === 10)
  }

  test("fault: publish dies mid-batch — partial prefix is the §2-D window; idempotent keys absorb it") {
    val (inTopic, inSub, outTopic, outSub) = fresh("f2")
    (1 to 6).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt, 20, idempotent = true)
    // 3 publishes land, then the publisher dies: the batch fails with a
    // partial prefix already in the output log
    InMemoryBus.failPublishesAfter(outTopic, after = 3, n = 100)
    val q1 = pipe().start(availableNow = true)
    intercept[Exception] { q1.awaitTermination(60000) }
    Thread.sleep(500)
    // no ack for a failed batch, whatever got published before the death
    assert(InMemoryBus.committedOffset(inSub) === 0)
    val partial = InMemoryBus.payloads(outSub).size
    assert(partial <= 3, s"more than the injected grace published: $partial")
    // bus recovers; restart replays the batch — the already-published
    // prefix is absorbed by its idempotence keys, the rest lands once
    InMemoryBus.failNextPublishes(outTopic, 0)
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
      === (1 to 6).map(i => s"""{"data":"m$i","nested":{"nestedData":"x"}}""").sorted,
      "mid-batch replay lost or duplicated rows")
    assert(awaitCommitted(inSub, 6) === 6)
  }

  test("fault: lost ack RPC after successful publish — healed by the next batch's cumulative ack") {
    // the reference swallows ack errors in a bare except
    // (pubsub_pipeline.py:48-52): the message redelivers later and the
    // pipeline emits a duplicate. Here the checkpoint WAL prevents the
    // redelivery and the MONOTONE prefix ack heals the lost RPC on the
    // next batch — no duplicate, no permanently-unacked prefix.
    val (inTopic, inSub, outTopic, outSub) = fresh("f3")
    (1 to 4).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def pipe() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt)
    InMemoryBus.failNextCommits(inSub, 1)
    val q1 = pipe().start(availableNow = true)
    q1.awaitTermination(60000)
    Thread.sleep(1000) // let the async listener hit the injected failure
    // published, but the ack RPC was lost
    assert(InMemoryBus.payloads(outSub).size === 4)
    assert(InMemoryBus.committedOffset(inSub) === 0)
    // next traffic + next run: batch 0 is NOT re-published (WAL), and the
    // new batch's cumulative ack covers the lost prefix
    (5 to 6).foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val q2 = pipe().start(availableNow = true)
    q2.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
      === (1 to 6).map(i => s"""{"data":"m$i","nested":{"nestedData":"x"}}""").sorted,
      "lost-ack recovery duplicated or dropped rows")
    assert(awaitCommitted(inSub, 6) === 6)
  }

  test("BytesSerde passes raw bytes through unchanged, non-UTF-8 included") {
    val (inTopic, inSub, outTopic, outSub) = fresh("bs")
    val msgs = Seq(Array[Byte](-1, -2, 0, -128, 127), "plain".getBytes(UTF_8), Array[Byte](0xc3.toByte))
    msgs.foreach(InMemoryBus.publish(inTopic, _))
    val q = new Pipeline(spark, inSub, outTopic, BytesSerde, _.select("value"),
      Files.createTempDirectory("graft-ckpt").toString).start(availableNow = true)
    q.awaitTermination(60000)
    assert(InMemoryBus.payloads(outSub).map(_.toSeq).sortBy(_.mkString(","))
      === msgs.map(_.toSeq).sortBy(_.mkString(",")))
    assert(awaitCommitted(inSub, 3) === 3)
  }

  /** File names in the checkpoint's offset and commit logs. */
  private def logFiles(ckpt: java.nio.file.Path): Seq[String] =
    Seq("offsets", "commits").flatMap(d =>
      Files.list(ckpt.resolve(d)).iterator.asScala.map(_.getFileName.toString))

  /** Run `body` with the session naming `managerClass` as its checkpoint
    * manager, as a user would. */
  private def withCheckpointManager[T](managerClass: String)(body: => T): T = {
    spark.conf.set(LocalCheckpointFileManager.ConfKey, managerClass)
    try body finally spark.conf.unset(LocalCheckpointFileManager.ConfKey)
  }

  test("acked queries checkpoint through the java.nio manager, only while starting, unless the session names one") {
    def run(): (java.nio.file.Path, Option[String]) = {
      val (inTopic, inSub, outTopic, outSub) = fresh("ckm")
      (1 to 50).foreach(i => InMemoryBus.publish(inTopic,
        s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
      val ckpt = Files.createTempDirectory("graft-ckpt")
      val q = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
        df => df.select(col("payload.*")), ckpt.toString, bulkLimit = 20).start(availableNow = true)
      val keyWhileRunning = spark.conf.getOption(LocalCheckpointFileManager.ConfKey)
      q.awaitTermination(60000)
      assert(q.recentProgress.length >= 3)
      assert(InMemoryBus.payloads(outSub).size === 50)
      (ckpt, keyWhileRunning)
    }
    val (ours, keyAfter) = run()
    assert(logFiles(ours).count(!_.startsWith(".")) >= 6)
    assert(!logFiles(ours).exists(_.endsWith(".crc")))
    assert(keyAfter === None)
    // a manager the user names wins, and stays named
    val fsBased = classOf[FileSystemBasedCheckpointFileManager].getName
    withCheckpointManager(fsBased) {
      val (theirs, kept) = run()
      assert(logFiles(theirs).exists(_.endsWith(".crc")))
      assert(kept === Some(fsBased))
    }
  }

  test("an idempotent pipeline's checkpoint moves between Spark's default manager and the java.nio one") {
    val (inTopic, inSub, outTopic, outSub) = fresh("ckmove")
    def publish(ids: Range): Unit = ids.foreach(i => InMemoryBus.publish(inTopic,
      s"""{"data":"m$i","nested":{"nestedData":"x"}}""".getBytes(UTF_8)))
    val ckpt = Files.createTempDirectory("graft-ckpt")
    def start() = new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
      df => df.select(col("payload.*")), ckpt.toString, idempotent = true).start(availableNow = true)
    def finish(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.awaitTermination(60000) // rethrows a checksum or concurrent-writer failure
      assert(q.exception.isEmpty)
    }
    val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

    publish(1 to 10)
    val q1 = withCheckpointManager(sparkDefault)(start())
    finish(q1)
    assert(logFiles(ckpt).exists(_.endsWith(".crc")))
    // batch 0 replays under the java.nio manager, then a new batch
    crashBeforeCommit(inSub, ckpt, q1)
    publish(11 to 20)
    val q2 = start()
    finish(q2)
    // and the default manager picks the checkpoint up again
    publish(21 to 30)
    finish(withCheckpointManager(sparkDefault)(start()))
    assert(InMemoryBus.payloads(outSub).map(new String(_, UTF_8)).sorted
      === (1 to 30).map(i => s"""{"data":"m$i","nested":{"nestedData":"x"}}""").sorted)
    assert(awaitCommitted(inSub, 30) === 30)
  }

  test("a failed start leaves no ack listener behind") {
    val (_, inSub, outTopic, _) = fresh("fs")
    // a regular file where the checkpoint directory should be: start() throws
    val notADir = Files.createTempFile("graft-ckpt", ".file").toString
    val before = spark.streams.listListeners().toSet
    intercept[Exception] {
      new Pipeline(spark, inSub, outTopic, JsonSerde(payloadSchema),
        df => df.select(col("payload.*")), notADir).start(availableNow = true)
    }
    assert((spark.streams.listListeners().toSet -- before).isEmpty)
  }
}
