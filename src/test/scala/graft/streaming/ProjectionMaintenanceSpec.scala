package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.GraphOps
import graft.sources.InMemoryBus

/** The incremental-maintenance twin of the co-purchase projection
  * (VERDICT r15 #6a): whole-order appends arriving on the bus fold into
  * a versioned parquet state that must equal the batch REBUILD over the
  * union of all appended orders — exactly, at every prefix, and under
  * replayed micro-batches. */
class ProjectionMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  /** 12 orders over 9 parts: shared pairs (support up to 4), a repeated
    * part within an order (basket dedupe), singleton baskets (no
    * pairs), and an empty-ish tail. */
  private val orders: Seq[(Long, Seq[Long])] = Seq(
    1L -> Seq(1L, 2L, 3L),
    2L -> Seq(1L, 2L),
    3L -> Seq(2L, 3L, 4L),
    4L -> Seq(1L, 2L, 2L),      // repeated part: {1,2} once, not twice
    5L -> Seq(5L),               // singleton: no pairs
    6L -> Seq(4L, 5L, 6L),
    7L -> Seq(1L, 2L, 3L, 4L),
    8L -> Seq(7L, 8L),
    9L -> Seq(7L, 8L, 9L),
    10L -> Seq(2L, 3L),
    11L -> Seq(6L, 4L),          // unsorted input basket
    12L -> Seq(9L, 7L))

  private def lineitemShaped(os: Seq[(Long, Seq[Long])]) =
    os.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")

  private def rebuild(os: Seq[(Long, Seq[Long])]): Seq[(Long, Long, Long)] =
    GraphOps.pairSupport(lineitemShaped(os))
      .orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def stateRows(m: ProjectionMaintenance): Seq[(Long, Long, Long)] =
    m.currentState().orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def freshDirs(): (String, String) = (
    Files.createTempDirectory("pm-state-").toString,
    Files.createTempDirectory("pm-ckpt-").toString)

  test("bus-streamed whole-order appends fold to exactly the batch rebuild") {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val topic = s"pm-in-$id"; val sub = s"pm-sub-$id"
    InMemoryBus.createTopic(topic)
    InMemoryBus.createSubscription(topic, sub)
    orders.foreach { case (o, ps) =>
      InMemoryBus.publish(topic,
        s"""{"l_orderkey":$o,"parts":[${ps.mkString(",")}]}""".getBytes(UTF_8))
    }
    val (stateDir, ckptDir) = freshDirs()
    // bulkLimit 4 forces the 12 orders through >= 3 micro-batches —
    // the multi-merge path, not one lucky single-batch rebuild
    val m = new ProjectionMaintenance(spark, sub, stateDir, ckptDir,
      bulkLimit = 4)
    val q = m.start(availableNow = true)
    assert(q.awaitTermination(60000), "AvailableNow drain timed out")
    assert(m.lastApplied() >= 2,
      s"expected >= 3 micro-batches, got last batchId ${m.lastApplied()}")
    assert(stateRows(m) == rebuild(orders))
    // the state is exact pair support: spot-check a hand-computed cell —
    // {1,2} appears in orders 1, 2, 4 (deduped), 7 => support 4
    assert(stateRows(m).find(r => r._1 == 1L && r._2 == 2L)
      .map(_._3).contains(4L))
    // ack-on-commit: the subscription's committed prefix reaches the
    // published count once the drain completes
    val deadline = System.currentTimeMillis + 20000
    while (System.currentTimeMillis < deadline &&
      InMemoryBus.committedOffset(sub) < orders.size) Thread.sleep(50)
    assert(InMemoryBus.committedOffset(sub) == orders.size)
  }

  test("every prefix of appends equals its own rebuild (additivity, not luck)") {
    val (stateDir, ckptDir) = freshDirs()
    val m = new ProjectionMaintenance(spark, "unused-sub", stateDir, ckptDir)
    orders.grouped(3).zipWithIndex.foreach { case (chunk, i) =>
      m.applyBatch(
        chunk.map { case (o, ps) => (o, ps) }.toDF("l_orderkey", "parts"),
        batchId = i.toLong)
      assert(stateRows(m) == rebuild(orders.take(3 * (i + 1))),
        s"state after batch $i diverged from the rebuild of its prefix")
    }
  }

  test("replayed and stale batchIds are idempotent (crash-before-checkpoint)") {
    val (stateDir, ckptDir) = freshDirs()
    val m = new ProjectionMaintenance(spark, "unused-sub", stateDir, ckptDir)
    val b0 = orders.take(6).map { case (o, ps) => (o, ps) }
      .toDF("l_orderkey", "parts")
    val b1 = orders.drop(6).map { case (o, ps) => (o, ps) }
      .toDF("l_orderkey", "parts")
    m.applyBatch(b0, batchId = 0L)
    m.applyBatch(b1, batchId = 1L)
    val committed = stateRows(m)
    assert(committed == rebuild(orders))
    // a replay re-delivers the SAME batchId: must be a no-op, or the
    // support counts double
    m.applyBatch(b1, batchId = 1L)
    m.applyBatch(b0, batchId = 0L) // stale id after a later commit
    assert(stateRows(m) == committed)
    assert(m.lastApplied() == 1L)
  }

  test("bus stop/resume under RocksDB: the maintainer resumes mid-stream on the corpus-scale provider (r18)") {
    // VERDICT r17 #5: provider swapped on a cloned session; same
    // fold/rebuild equality across a stop/resume boundary as the
    // default-provider tests — a deployment sets the provider globally
    // and the maintainer composition must be inert to it.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val id = java.util.UUID.randomUUID().toString.take(8)
    val topic = s"pmr-in-$id"; val sub = s"pmr-sub-$id"
    InMemoryBus.createTopic(topic)
    InMemoryBus.createSubscription(topic, sub)
    val (stateDir, ckptDir) = freshDirs()
    def publish(os: Seq[(Long, Seq[Long])]): Unit = os.foreach { case (o, ps) =>
      InMemoryBus.publish(topic,
        s"""{"l_orderkey":$o,"parts":[${ps.mkString(",")}]}""".getBytes(UTF_8))
    }
    publish(orders.take(6))
    val m1 = new ProjectionMaintenance(s, sub, stateDir, ckptDir, bulkLimit = 4)
    val q1 = m1.start(availableNow = true)
    assert(q1.awaitTermination(60000), "wave-1 drain timed out")
    assert(stateRows(m1) == rebuild(orders.take(6)))
    publish(orders.drop(6))
    val m2 = new ProjectionMaintenance(s, sub, stateDir, ckptDir, bulkLimit = 4)
    val q2 = m2.start(availableNow = true)
    assert(q2.awaitTermination(60000), "wave-2 drain timed out")
    assert(stateRows(m2) == rebuild(orders))
  }

  test("version GC: only keepVersions committed versions survive a multi-batch fold") {
    val (stateDir, ckptDir) = freshDirs()
    val m = new ProjectionMaintenance(spark, "unused-sub", stateDir, ckptDir,
      keepVersions = 2)
    orders.grouped(3).zipWithIndex.foreach { case (chunk, i) =>
      m.applyBatch(
        chunk.map { case (o, ps) => (o, ps) }.toDF("l_orderkey", "parts"),
        batchId = i.toLong)
    }
    // 4 batches committed; retention keeps v2 + v3, prunes v0/v1
    import scala.jdk.CollectionConverters._
    val vdirs = Files.list(java.nio.file.Paths.get(stateDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("v\\d+")).toSet
    assert(vdirs == Set("v2", "v3"), s"retention kept $vdirs")
    // the surviving pointer target still reads to exactly the rebuild
    assert(stateRows(m) == rebuild(orders))
  }

  test("a fold's shuffle rides the delta, never the state (r20, VERDICT r19 Next #3)") {
    // the r19 union+sum merge re-hashed every accumulated pair per fold
    // (O(|state| + |delta|) shuffle); with the bucketed state layout the
    // old state reads co-located and only the delta crosses an exchange.
    // Build a state orders of magnitude bigger than the delta, fold a
    // tiny append, and assert the fold's executed shuffle records stay
    // delta-sized.
    val (stateDir, ckptDir) = freshDirs()
    val m = new ProjectionMaintenance(spark, "unused-sub", stateDir, ckptDir)
    val big = (1L to 3000L).map(o =>
      (o, Seq(3 * o, 3 * o + 1, 3 * o + 2)))   // 3 pairs per order, disjoint
      .toDF("l_orderkey", "parts")
    m.applyBatch(big, batchId = 0L)
    val stateSize = m.currentState().count()
    assert(stateSize == 9000L)
    val tiny = Seq((100001L, Seq(1L, 2L, 3L))).toDF("l_orderkey", "parts")
    m.applyBatch(tiny, batchId = 1L)
    val (recs, bytes) = m.lastFoldShuffle.get
    assert(recs < stateSize / 10,
      s"fold-1 shuffled $recs records ($bytes bytes) against a " +
        s"$stateSize-row state — the merge is re-shuffling the state, " +
        "not just the delta (the bucketed co-located read regressed)")
    // and the merge is still exact
    assert(stateRows(m) ==
      rebuild((1L to 3000L).map(o => (o, Seq(3 * o, 3 * o + 1, 3 * o + 2))) :+
        (100001L -> Seq(1L, 2L, 3L))))
  }

  test("a replaced/deleted checkpoint against a non-empty state fails loudly (ADVICE r16)") {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val topic = s"pmid-in-$id"; val sub = s"pmid-sub-$id"
    InMemoryBus.createTopic(topic)
    InMemoryBus.createSubscription(topic, sub)
    orders.take(6).foreach { case (o, ps) =>
      InMemoryBus.publish(topic,
        s"""{"l_orderkey":$o,"parts":[${ps.mkString(",")}]}""".getBytes(UTF_8))
    }
    val (stateDir, ckptA) = freshDirs()
    val m1 = new ProjectionMaintenance(spark, sub, stateDir, ckptA,
      bulkLimit = 100)
    val q1 = m1.start(availableNow = true)
    assert(q1.awaitTermination(60000), "AvailableNow drain timed out")
    assert(m1.lastApplied() >= 0)
    // (a) checkpoint DELETED and recreated empty: batchIds would restart
    // at 0 and every new append would be skipped as a replay — must throw
    val ckptFresh = Files.createTempDirectory("pm-ckpt-fresh-").toString
    val m2 = new ProjectionMaintenance(spark, sub, stateDir, ckptFresh)
    val eFresh = intercept[IllegalStateException](m2.start(availableNow = true))
    assert(eFresh.getMessage.contains("deleted or replaced"))
    // (b) checkpoint REPLACED by a different query's: ids mismatch — throw
    val otherSub = s"pmid-other-$id"
    InMemoryBus.createSubscription(topic, otherSub)
    val (otherState, ckptB) = freshDirs()
    val mOther = new ProjectionMaintenance(spark, otherSub, otherState, ckptB,
      bulkLimit = 100)
    val qB = mOther.start(availableNow = true)
    assert(qB.awaitTermination(60000), "AvailableNow drain timed out")
    val m3 = new ProjectionMaintenance(spark, sub, stateDir, ckptB)
    val eSwap = intercept[IllegalStateException](m3.start(availableNow = true))
    assert(eSwap.getMessage.contains("belongs to query id"))
    // the ORIGINAL pairing still starts clean (the guard has no false
    // positive on the happy path)
    val m4 = new ProjectionMaintenance(spark, sub, stateDir, ckptA,
      bulkLimit = 100)
    val q4 = m4.start(availableNow = true)
    assert(q4.awaitTermination(60000), "AvailableNow drain timed out")
  }

  test("graph_copurchase_incr: the batched fold equals the one-shot rebuild") {
    val li = lineitemShaped(orders)
    val incr = GraphOps.coPurchaseIncremental(li, nBatches = 4, minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val full = rebuild(orders).filter(_._3 >= 2L)
    assert(incr == full)
    assert(incr.nonEmpty)
  }

  test("a failed start leaves no ack listener behind") {
    val id = java.util.UUID.randomUUID().toString.take(8)
    val topic = s"pm-fs-$id"; val sub = s"pm-fssub-$id"
    InMemoryBus.createTopic(topic)
    InMemoryBus.createSubscription(topic, sub)
    // a regular file where the checkpoint directory should be: start() throws
    val notADir = Files.createTempFile("pm-ckpt-", ".file").toString
    val m = new ProjectionMaintenance(spark, sub,
      Files.createTempDirectory("pm-state-").toString, notADir)
    val before = spark.streams.listListeners().toSet
    intercept[Exception] { m.start(availableNow = true) }
    assert((spark.streams.listListeners().toSet -- before).isEmpty)
  }
}
