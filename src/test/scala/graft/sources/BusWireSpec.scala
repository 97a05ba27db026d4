package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.lang.reflect.{InvocationTargetException, Method, Modifier, Proxy}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import InMemoryBus.{AckRpcError, BusMessage, PublishError, TransientPullError}

/** The socket transport's one value codec ([[BusWire]]) and the
  * daemon's reflective dispatch: every [[Bus]] method answers over
  * `SocketBus` → `BusService` exactly as it does on a local [[BusCore]],
  * a request is consumed whole before it runs, and only `Bus` methods
  * can be invoked.
  */
class BusWireSpec extends AnyFunSuite {

  private def withService(f: Int => Unit): Unit = {
    val service = new BusService()
    try f(service.start()) finally service.stop()
  }

  /** One persistent connection that sends requests and reads responses;
    * a connection that falls out of step fails on the read timeout
    * rather than hanging. */
  private def withConnection(port: Int)(f: (DataInputStream, DataOutputStream) => Unit): Unit = {
    val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(10000)
    try f(BusWire.input(sock), BusWire.output(sock)) finally sock.close()
  }

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** A value with byte arrays turned into comparable sequences. */
  private def plain(v: Any): Any = v match {
    case a: Array[Byte] => a.toVector
    case m: BusMessage => (plain(m.data), m.messageId, m.publishTimeMicros, m.attributes)
    case s: Seq[_] => s.map(plain)
    case (x, y) => (plain(x), plain(y))
    case other => other
  }

  private val typedErrors: Set[Class[_]] =
    Set(classOf[TransientPullError], classOf[AckRpcError], classOf[PublishError])

  /** What a call did: its value, or the class and message it raised. */
  private def outcome(f: => Any): Any =
    try plain(f) catch { case e: RuntimeException => (e.getClass, e.getMessage) }

  /** A core outcome as the socket transport reports it: typed errors keep
    * their class, anything else arrives as status 4. */
  private def overTheWire(o: Any): Any = o match {
    case (c: Class[_], msg) if !typedErrors(c) =>
      (classOf[IllegalStateException], s"bus service error: $msg")
    case other => other
  }

  /** A call's result, or a failure if it has not answered in time: a
    * request and a response that fall out of step would otherwise hang. */
  private def within[A](f: => A): A =
    Await.result(Future(f)(ExecutionContext.global), 30.seconds)

  /** A [[Bus]] that records the (name, arity) of every method called on it. */
  private def recording(target: Bus, seen: mutable.Set[(String, Int)]): Bus =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](classOf[Bus]),
      (_: AnyRef, m: Method, args: Array[AnyRef]) => {
        seen += m.getName -> m.getParameterCount
        try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
        catch { case e: InvocationTargetException => throw e.getCause }
      }).asInstanceOf[Bus]

  private val script: Seq[(String, Bus => Any)] = Seq(
    "reset" -> (_.reset()),
    "createTopic" -> (_.createTopic("t")),
    "createSubscription" -> (_.createSubscription("t", "s")),
    "createSubscription fan-out" -> (_.createSubscription("t", "s2")),
    "publish/2" -> (_.publish("t", b("a"))),
    "publish/3" -> (_.publish("t", b("b"), Map("k" -> "v", "x" -> "y"))),
    "publishBatch" -> (_.publishBatch("t", Seq(b("c"), b("d"), b("e")))),
    "publishIdempotent new" -> (_.publishIdempotent("t", "k1", b("f"))),
    "publishIdempotent replay" -> (_.publishIdempotent("t", "k1", b("f"))),
    "publishIdempotentBatch" ->
      (_.publishIdempotentBatch("t", Seq("k1" -> b("f"), "k2" -> b("g"), "k3" -> b("h")))),
    "endOffset" -> (_.endOffset("s")),
    "committedOffset" -> (_.committedOffset("s")),
    "read" -> (_.read("s", 0, 8)),
    "read slice" -> (_.read("s", 1, 3)),
    "payloads" -> (_.payloads("s2")),
    "commit" -> (_.commit("s", 3)),
    "commit stale" -> (_.commit("s", 1)),
    "committedOffset after commits" -> (_.committedOffset("s")),
    "failNextPulls" -> (_.failNextPulls("s", 1)),
    "endOffset fails" -> (_.endOffset("s")),
    "endOffset heals" -> (_.endOffset("s")),
    "capNextPulls" -> (_.capNextPulls("s", 2L, 1)),
    "endOffset capped" -> (_.endOffset("s")),
    "endOffset uncapped" -> (_.endOffset("s")),
    "failNextCommits" -> (_.failNextCommits("s", 1)),
    "commit fails" -> (_.commit("s", 4)),
    "commit heals" -> (_.commit("s", 4)),
    "failNextPublishes" -> (_.failNextPublishes("t", 1)),
    "publish fails" -> (_.publish("t", b("x"))),
    "publish heals" -> (_.publish("t", b("y"))),
    "failPublishesAfter" -> (_.failPublishesAfter("t", 2, 1)),
    "publishBatch fails mid-batch" -> (_.publishBatch("t", (1 to 5).map(i => b(s"z$i")))),
    "endOffset keeps the prefix" -> (_.endOffset("s")),
    "rewindCommitted" -> (_.rewindCommitted("s", 1)),
    "committedOffset rewound" -> (_.committedOffset("s")),
    "nowMicros" -> (_.nowMicros()),
    "advanceClock" -> (_.advanceClock(5000L)),
    "acquireLease" -> (bus => bus.acquireLease("s", "A", bus.nowMicros() + 1000)),
    "acquireLease denied" -> (bus => bus.acquireLease("s", "B", bus.nowMicros() + 1000)),
    "modifyAckDeadline" -> (bus => bus.modifyAckDeadline("s", "A", bus.nowMicros() + 3000)),
    "modifyAckDeadline not holder" -> (bus => bus.modifyAckDeadline("s", "B", bus.nowMicros() + 3000)),
    "advanceClock past deadline" -> (_.advanceClock(10000L)),
    "acquireLease after expiry" -> (bus => bus.acquireLease("s", "B", bus.nowMicros() + 1000)),
    "commit releases the lease" -> (_.commit("s", 6)),
    "modifyAckDeadline released" -> (bus => bus.modifyAckDeadline("s", "B", bus.nowMicros() + 3000)),
    "nowMicros at end" -> (_.nowMicros()),
    "unknown subscription" -> (_.endOffset("nope")),
    "reset at end" -> (_.reset()),
    "subscription gone" -> (_.committedOffset("s")))

  test("every Bus method answers the same over the socket as on a BusCore") {
    withService { port =>
      val seen = mutable.Set.empty[(String, Int)]
      val local = recording(new BusCore, seen)
      val remote = new SocketBus("127.0.0.1", port)
      val raised = for ((label, op) <- script) yield {
        val expected = overTheWire(outcome(op(local)))
        assert(outcome(within(op(remote))) == expected, s"at step '$label'")
        expected match { case (c: Class[_], _) => Some(c); case _ => None }
      }
      assert(raised.flatten.toSet == typedErrors + classOf[IllegalStateException])
      val busMethods = classOf[Bus].getMethods.toSet
        .filter(m => !Modifier.isStatic(m.getModifiers) && !m.getName.contains('$'))
        .map(m => m.getName -> m.getParameterCount)
      assert(busMethods.size == 23) // 22 operations, publish in two arities
      assert(busMethods -- seen == Set.empty, "the script must call every Bus method")
    }
  }

  test("a publishBatch that fails mid-batch leaves the connection in step") {
    withService { port =>
      withConnection(port) { (in, out) =>
        def ask(op: String, args: Any*): Any = {
          BusWire.writeRequest(out, op, args)
          BusWire.readResponse(in)
        }
        assert(ask("createSubscription", "m", "ms") == (()))
        assert(ask("failPublishesAfter", "m", 2, 1) == (()))
        intercept[PublishError](ask("publishBatch", "m", (1 to 10).map(i => b(s"p$i"))))
        assert(ask("endOffset", "ms") == 2L)
        assert(ask("publishBatch", "m", Seq(b("q"))) == 1)
        assert(plain(ask("payloads", "ms")) == Seq("p1", "p2", "q").map(s => b(s).toVector))
      }
    }
  }

  test("an op that is not a Bus method gets status 4 and nothing runs") {
    withService { port =>
      withConnection(port) { (in, out) =>
        for ((op, args) <- Seq("getClass" -> Nil, "wait" -> Nil, "notifyAll" -> Nil,
               "hashCode" -> Nil, "toString" -> Nil, "publish$default$3" -> Nil,
               "publishBatch$" -> Seq("t", "t", Seq.empty), "endOffset" -> Nil,
               "noSuchOp" -> Seq("s"))) {
          BusWire.writeRequest(out, op, args)
          assert(in.readInt() == 4, op)
          assert(in.readUTF() == s"unknown op: $op")
        }
        // each refused request was read whole: the connection still answers
        BusWire.writeRequest(out, "ping", Nil)
        assert(BusWire.readResponse(in) == (()))
        BusWire.writeRequest(out, "createTopic", Seq("after"))
        assert(BusWire.readResponse(in) == (()))
      }
    }
  }

  test("the value codec's bytes are pinned, and read back as written") {
    val msg = BusMessage(Array[Byte](2), "m", 1L, Map.empty)
    val value = Seq((), true, 7, 7L, "s", Array[Byte](1), Map("k" -> "v"),
      ("a", Array.empty[Byte]), msg)
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    BusWire.write(out, value)
    out.flush()
    val expected = Seq[Int](
      7, 0, 0, 0, 9, // Seq of nine
      0, // Unit
      1, 1, // Boolean
      2, 0, 0, 0, 7, // Int
      3, 0, 0, 0, 0, 0, 0, 0, 7, // Long
      4, 0, 1, 's', // String
      5, 0, 0, 0, 1, 1, // bytes
      6, 0, 0, 0, 1, 4, 0, 1, 'k', 4, 0, 1, 'v', // Map
      8, 4, 0, 1, 'a', 5, 0, 0, 0, 0, // pair
      9, 5, 0, 0, 0, 1, 2, 4, 0, 1, 'm', 3, 0, 0, 0, 0, 0, 0, 0, 1, 6, 0, 0, 0, 0 // BusMessage
    ).map(_.toByte)
    assert(buf.toByteArray.toSeq == expected)
    val back = BusWire.read(new DataInputStream(new ByteArrayInputStream(buf.toByteArray)))
    assert(back.isInstanceOf[scala.collection.immutable.Seq[_]])
    assert(plain(back) == plain(value))
  }
}
