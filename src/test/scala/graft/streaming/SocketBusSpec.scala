package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BusRegistry, BusService, InMemoryBus, SocketBus}

/** Wire-protocol contract of the socket bus transport (r8 verdict #1):
  * every [[graft.sources.Bus]] operation — including the fault-injection
  * surface the retry contracts depend on — round-trips through a
  * [[BusService]], and the three typed bus errors are rethrown
  * CLASS-IDENTICAL on the client side, so connector logic cannot tell
  * the transports apart. (The daemon here is in-JVM for speed; the
  * cross-process suites launch it as its own JVM.)
  */
class SocketBusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val service = new BusService()
  private var bus: SocketBus = _

  override def beforeAll(): Unit = {
    val port = service.start()
    bus = new SocketBus("127.0.0.1", port)
  }

  override def afterAll(): Unit = service.stop()

  test("a daemon that accepts and never replies times the call out") {
    val silent = new java.net.ServerSocket(0, 4, java.net.InetAddress.getLoopbackAddress)
    val accepted = new java.util.concurrent.CopyOnWriteArrayList[java.net.Socket]()
    val acceptor = new Thread(() =>
      try while (true) accepted.add(silent.accept())
      catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    try {
      val client = new SocketBus("127.0.0.1", silent.getLocalPort)
      val t0 = System.nanoTime()
      val call = scala.concurrent.Future(client.endOffset("s"))(
        scala.concurrent.ExecutionContext.global)
      // bounded: a call that never times out fails this wait instead of
      // hanging the suite
      intercept[java.net.SocketTimeoutException] {
        scala.concurrent.Await.result(call,
          scala.concurrent.duration.Duration(2L * SocketBus.TimeoutMs, "ms"))
      }
      assert((System.nanoTime() - t0) / 1e6 >= SocketBus.TimeoutMs * 0.9)
      assert(!accepted.isEmpty, "the call never reached the silent daemon")
    } finally {
      silent.close()
      accepted.forEach(_.close())
    }
  }

  test("publish/read/commit/endOffset round-trip with attributes") {
    bus.createTopic("t1")
    bus.createSubscription("t1", "s1")
    val id1 = bus.publish("t1", "hello".getBytes(UTF_8), Map("k" -> "v", "x" -> "y"))
    val id2 = bus.publish("t1", "world".getBytes(UTF_8))
    assert(id1 != id2)
    assert(bus.endOffset("s1") == 2)
    assert(bus.committedOffset("s1") == 0)
    val msgs = bus.read("s1", 0, 2)
    assert(msgs.map(m => new String(m.data, UTF_8)) == Seq("hello", "world"))
    assert(msgs.head.attributes == Map("k" -> "v", "x" -> "y"))
    assert(msgs.head.messageId == id1)
    assert(msgs.head.publishTimeMicros > 0)
    bus.commit("s1", 2)
    assert(bus.committedOffset("s1") == 2)
    // commits are monotone: a lower commit does not rewind
    bus.commit("s1", 1)
    assert(bus.committedOffset("s1") == 2)
    assert(bus.payloads("s1").size == 2)
  }

  test("typed errors cross the wire class-identical") {
    bus.createTopic("t2")
    bus.createSubscription("t2", "s2")
    bus.failNextPulls("s2", 1)
    intercept[InMemoryBus.TransientPullError](bus.endOffset("s2"))
    assert(bus.endOffset("s2") == 0) // healed after the injected failure
    bus.publish("t2", "a".getBytes(UTF_8))
    bus.failNextCommits("s2", 1)
    intercept[InMemoryBus.AckRpcError](bus.commit("s2", 1))
    bus.commit("s2", 1) // heals
    assert(bus.committedOffset("s2") == 1)
    bus.failNextPublishes("t2", 1)
    intercept[InMemoryBus.PublishError](bus.publish("t2", "b".getBytes(UTF_8)))
    bus.publish("t2", "c".getBytes(UTF_8))
    assert(bus.endOffset("s2") == 2)
  }

  test("partial pulls and mid-batch publish failures inject through the wire") {
    bus.createTopic("t3")
    bus.createSubscription("t3", "s3")
    (1 to 5).foreach(i => bus.publish("t3", s"m$i".getBytes(UTF_8)))
    bus.capNextPulls("s3", maxPerPull = 2, times = 1)
    assert(bus.endOffset("s3") == 2) // under-reported backlog
    assert(bus.endOffset("s3") == 5) // next pull sees everything
    bus.failPublishesAfter("t3", after = 1, n = 1)
    bus.publish("t3", "ok".getBytes(UTF_8))
    intercept[InMemoryBus.PublishError](bus.publish("t3", "boom".getBytes(UTF_8)))
  }

  test("idempotent publish dedups by key across the wire") {
    bus.createTopic("t4")
    bus.createSubscription("t4", "s4")
    assert(bus.publishIdempotent("t4", "k1", "a".getBytes(UTF_8)))
    assert(!bus.publishIdempotent("t4", "k1", "a".getBytes(UTF_8)))
    assert(bus.publishIdempotent("t4", "k2", "b".getBytes(UTF_8)))
    assert(bus.endOffset("s4") == 2)
  }

  test("batch publish: one round trip, per-row loop semantics") {
    bus.createTopic("t6")
    bus.createSubscription("t6", "s6")
    val n = bus.publishBatch("t6", (1 to 700).map(i => s"b$i".getBytes(UTF_8)))
    assert(n == 700)
    assert(bus.endOffset("s6") == 700)
    assert(new String(bus.read("s6", 699, 700).head.data, UTF_8) == "b700")
    // mid-batch failure leaves the already-published PREFIX (the same
    // §2-D window N individual calls would leave) and surfaces the error
    bus.failPublishesAfter("t6", after = 3, n = 1)
    intercept[InMemoryBus.PublishError](
      bus.publishBatch("t6", (1 to 10).map(i => s"f$i".getBytes(UTF_8))))
    assert(bus.endOffset("s6") == 703, "prefix before the failure must persist")
    // the connection stays usable after a batch error (frame fully read)
    assert(bus.publishBatch("t6", Seq("ok".getBytes(UTF_8))) == 1)
    assert(bus.endOffset("s6") == 704)
  }

  test("batch idempotent publish dedups replayed keys across the wire") {
    bus.createTopic("t7")
    bus.createSubscription("t7", "s7")
    val keyed = (1 to 600).map(i => s"k$i" -> s"v$i".getBytes(UTF_8))
    assert(bus.publishIdempotentBatch("t7", keyed) == 600)
    // full replay (crash-before-checkpoint rerun): absorbed wholesale
    assert(bus.publishIdempotentBatch("t7", keyed) == 0)
    // partial overlap: only the new suffix lands
    val more = (500 to 650).map(i => s"k$i" -> s"v$i".getBytes(UTF_8))
    assert(bus.publishIdempotentBatch("t7", more) == 50)
    assert(bus.endOffset("s7") == 650)
  }

  test("rewindCommitted reopens the redelivery window") {
    bus.createTopic("t5")
    bus.createSubscription("t5", "s5")
    bus.publish("t5", "x".getBytes(UTF_8))
    bus.commit("s5", 1)
    bus.rewindCommitted("s5", 0)
    assert(bus.committedOffset("s5") == 0)
  }

  test("BusRegistry resolves specs and rejects junk") {
    assert(BusRegistry.resolve("memory") eq InMemoryBus)
    assert(BusRegistry.resolve(null) eq InMemoryBus)
    assert(BusRegistry.resolve("socket://127.0.0.1:12345").isInstanceOf[SocketBus])
    intercept[IllegalArgumentException](BusRegistry.resolve("carrier-pigeon"))
  }

  test("unknown subscription surfaces as a descriptive failure, not a hang") {
    val e = intercept[IllegalStateException](bus.endOffset("nope"))
    assert(e.getMessage.contains("no such subscription"))
  }
}
