package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.lang.reflect.{InvocationTargetException, Method, Modifier}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket, SocketException}

import InMemoryBus.{AckRpcError, BusMessage, PublishError, TransientPullError}

/** The socket transport's wire format, written once for both ends.
  *
  * Values are tagged, one tag byte per value, for exactly the types the
  * [[Bus]] methods carry. A request is the op name (UTF) followed by its
  * arguments as one `Seq` value; it is decoded whole before anything
  * runs, so a failing op can never leave the rest of its request unread
  * on the connection. A response is a status int: 0, then the result
  * value; or 1/2/3 for the three typed bus errors and 4 for anything
  * else, then the error message (UTF).
  */
private[sources] object BusWire {
  private final val UnitTag = 0
  private final val BooleanTag = 1
  private final val IntTag = 2
  private final val LongTag = 3
  private final val StringTag = 4
  private final val BytesTag = 5
  private final val MapTag = 6
  private final val SeqTag = 7
  private final val PairTag = 8
  private final val MessageTag = 9

  def input(sock: Socket): DataInputStream =
    new DataInputStream(new BufferedInputStream(sock.getInputStream))

  def output(sock: Socket): DataOutputStream =
    new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  def write(out: DataOutputStream, v: Any): Unit = v match {
    case () => out.writeByte(UnitTag)
    case b: Boolean => out.writeByte(BooleanTag); out.writeBoolean(b)
    case i: Int => out.writeByte(IntTag); out.writeInt(i)
    case l: Long => out.writeByte(LongTag); out.writeLong(l)
    case s: String => out.writeByte(StringTag); out.writeUTF(s)
    case b: Array[Byte] => out.writeByte(BytesTag); out.writeInt(b.length); out.write(b)
    case m: Map[_, _] =>
      out.writeByte(MapTag); out.writeInt(m.size)
      m.foreach { case (k, x) => write(out, k); write(out, x) }
    case s: Seq[_] => out.writeByte(SeqTag); out.writeInt(s.size); s.foreach(write(out, _))
    case m: BusMessage =>
      out.writeByte(MessageTag)
      write(out, m.data); write(out, m.messageId)
      write(out, m.publishTimeMicros); write(out, m.attributes)
    case (a, b) => out.writeByte(PairTag); write(out, a); write(out, b)
  }

  def read(in: DataInputStream): Any = in.readByte().toInt match {
    case UnitTag => ()
    case BooleanTag => in.readBoolean()
    case IntTag => in.readInt()
    case LongTag => in.readLong()
    case StringTag => in.readUTF()
    case BytesTag =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      b
    case MapTag => Map.from(Vector.fill(in.readInt())(read(in) -> read(in)))
    case SeqTag => Vector.fill(in.readInt())(read(in))
    case MessageTag =>
      BusMessage(read(in).asInstanceOf[Array[Byte]], read(in).asInstanceOf[String],
        read(in).asInstanceOf[Long], read(in).asInstanceOf[Map[String, String]])
    case PairTag => (read(in), read(in))
    case tag => throw new IllegalArgumentException(s"unknown bus wire tag: $tag")
  }

  def writeRequest(out: DataOutputStream, op: String, args: Seq[Any]): Unit = {
    out.writeUTF(op)
    write(out, args)
    out.flush()
  }

  def readRequest(in: DataInputStream): (String, Seq[Any]) =
    (in.readUTF(), read(in).asInstanceOf[Seq[Any]])

  def writeResponse(out: DataOutputStream, result: Either[Throwable, Any]): Unit = {
    result match {
      case Right(v) => out.writeInt(0); write(out, v)
      case Left(e) =>
        out.writeInt(e match {
          case _: TransientPullError => 1
          case _: AckRpcError => 2
          case _: PublishError => 3
          case _ => 4
        })
        out.writeUTF(String.valueOf(e.getMessage))
    }
    out.flush()
  }

  /** The result value, or the bus error the status names, rethrown as
    * the same class so callers cannot tell the transports apart. */
  def readResponse(in: DataInputStream): Any = in.readInt() match {
    case 0 => read(in)
    case status =>
      val msg = in.readUTF()
      throw (status match {
        case 1 => new TransientPullError(msg)
        case 2 => new AckRpcError(msg)
        case 3 => new PublishError(msg)
        case _ => new IllegalStateException(s"bus service error: $msg")
      })
  }
}

/** Cross-process bus daemon (round-8 verdict #1): a TCP server hosting a
  * private [[BusCore]], so the DSv2 connector, the pipelines, and the
  * test client talk to a bus in a genuinely separate process — the shape
  * of the reference's own cross-process harness (`test_client.py:6-31`).
  * Spark-free: the daemon runs on a bare JVM with the library classes
  * and the Scala runtime only (see [[BusServiceMain]]).
  *
  * Protocol: [[BusWire]]. A request names a [[Bus]] method and is
  * dispatched to the core by name and arity; `ping` is the one op that
  * is not a bus method. The typed errors cross the wire and are
  * RE-THROWN as the same classes by [[SocketBus]], so the connector's
  * retry/backoff logic (`pubsub_pipeline.py:204-211` semantics) is
  * transport-agnostic. One connection serves many requests (loop until
  * EOF); the client may equally open one per call.
  *
  * Binding is localhost-only: this is a test/benchmark daemon, not a
  * hardened network service.
  */
final class BusService(port: Int = 0) {
  private val core = new BusCore
  private var server: ServerSocket = _
  @volatile private var running = false

  /** Start accepting; returns the actual bound port (0 = ephemeral). */
  def start(): Int = synchronized {
    require(server == null, "already started")
    server = new ServerSocket(port, 64, InetAddress.getLoopbackAddress)
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val t = new Thread(() => serve(sock), "bus-conn")
          t.setDaemon(true)
          t.start()
        } catch {
          case _: Throwable if !running => // closed during shutdown
          case e: Throwable =>
            System.err.println(s"[bus-service] accept failed: ${e.getMessage}")
        }
      }
    }, "bus-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    server.getLocalPort
  }

  def stop(): Unit = synchronized {
    running = false
    if (server != null) { try server.close() catch { case _: Throwable => () } }
  }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = BusWire.input(sock)
    val out = BusWire.output(sock)
    try {
      while (true) {
        val (op, args) = BusWire.readRequest(in)
        BusWire.writeResponse(out,
          try Right(dispatch(op, args)) catch { case e: Throwable => Left(e) })
      }
    } catch {
      case _: EOFException => // client done
      case _: SocketException => // client gone
    } finally {
      try sock.close() catch { case _: Throwable => () }
    }
  }

  private def dispatch(op: String, args: Seq[Any]): Any =
    if (op == "ping") ()
    else {
      val m = BusService.ops.getOrElse((op, args.size),
        throw new IllegalArgumentException(s"unknown op: $op"))
      try {
        val r = m.invoke(core, args.asInstanceOf[Seq[AnyRef]]: _*)
        if (m.getReturnType == Void.TYPE) () else r
      } catch { case e: InvocationTargetException => throw e.getCause }
    }
}

private object BusService {
  /** The dispatch table: the [[Bus]] methods, and nothing else, by name
    * and arity (the only overload, `publish`, differs in arity). */
  val ops: Map[(String, Int), Method] =
    classOf[Bus].getMethods.iterator
      .filter(m => !Modifier.isStatic(m.getModifiers) && !m.getName.contains('$'))
      .map(m => (m.getName, m.getParameterCount) -> m)
      .toMap
}

/** Stand-alone daemon entrypoint:
  * `java -cp <graft-classes>:<scala-library> graft.sources.BusServiceMain [port]`.
  * Prints `BUS_PORT=<port>` on stdout once listening (the launcher
  * handshake), then serves until killed. */
object BusServiceMain {
  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 0
    val svc = new BusService(port)
    val bound = svc.start()
    // the launcher handshake: parseable, flushed, exactly once
    println(s"BUS_PORT=$bound")
    System.out.flush()
    // serve until the process is killed (daemon threads would otherwise
    // let the JVM exit immediately)
    new java.util.concurrent.CountDownLatch(1).await()
  }
}

/** TCP client transport for a [[BusService]] daemon — the [[Bus]] the
  * connector resolves from `bus = socket://host:port`. One connection
  * per call: stateless, so instances are free to construct on executors
  * (partitions carry the spec string), and a daemon restart between
  * calls needs no client-side reconnect logic. Bus-typed errors are
  * reconstructed from the wire status so retry contracts behave exactly
  * as against [[InMemoryBus]]. */
final class SocketBus(host: String, port: Int) extends Bus {

  private def call[A](op: String, args: Any*): A = {
    val sock = new Socket()
    try {
      // a daemon that stops answering fails the call instead of blocking
      // the Spark task or driver thread forever
      sock.connect(new InetSocketAddress(host, port), SocketBus.TimeoutMs)
      sock.setSoTimeout(SocketBus.TimeoutMs)
      sock.setTcpNoDelay(true)
      BusWire.writeRequest(BusWire.output(sock), op, args)
      BusWire.readResponse(BusWire.input(sock)).asInstanceOf[A]
    } finally {
      try sock.close() catch { case _: Throwable => () }
    }
  }

  override def createTopic(topic: String): Unit = call("createTopic", topic)
  override def createSubscription(topic: String, name: String): Unit =
    call("createSubscription", topic, name)
  override def publish(topic: String, data: Array[Byte],
                       attributes: Map[String, String] = Map.empty): String =
    call("publish", topic, data, attributes)
  override def publishIdempotent(topic: String, key: String, data: Array[Byte]): Boolean =
    call("publishIdempotent", topic, key, data)
  override def publishBatch(topic: String, data: Seq[Array[Byte]]): Int =
    call("publishBatch", topic, data)
  override def publishIdempotentBatch(topic: String,
                                      keyed: Seq[(String, Array[Byte])]): Int =
    call("publishIdempotentBatch", topic, keyed)
  override def endOffset(name: String): Long = call("endOffset", name)
  override def committedOffset(name: String): Long = call("committedOffset", name)
  override def read(name: String, from: Long, until: Long): Seq[BusMessage] =
    call("read", name, from, until)
  override def commit(name: String, upTo: Long): Unit = call("commit", name, upTo)
  override def payloads(name: String): Seq[Array[Byte]] = call("payloads", name)
  override def nowMicros(): Long = call("nowMicros")
  override def advanceClock(byMicros: Long): Unit = call("advanceClock", byMicros)
  override def acquireLease(name: String, holder: String, deadlineMicros: Long): Boolean =
    call("acquireLease", name, holder, deadlineMicros)
  override def modifyAckDeadline(name: String, holder: String,
                                 newDeadlineMicros: Long): Boolean =
    call("modifyAckDeadline", name, holder, newDeadlineMicros)
  override def failNextPulls(name: String, n: Int): Unit = call("failNextPulls", name, n)
  override def failNextCommits(name: String, n: Int): Unit = call("failNextCommits", name, n)
  override def capNextPulls(name: String, maxPerPull: Long, times: Int): Unit =
    call("capNextPulls", name, maxPerPull, times)
  override def failNextPublishes(topic: String, n: Int): Unit =
    call("failNextPublishes", topic, n)
  override def failPublishesAfter(topic: String, after: Int, n: Int): Unit =
    call("failPublishesAfter", topic, after, n)
  override def rewindCommitted(name: String, to: Long): Unit =
    call("rewindCommitted", name, to)
  override def reset(): Unit = call("reset")

  /** Liveness probe (launcher handshake helper). */
  def ping(): Unit = call("ping")
}

object SocketBus {
  /** Connect and read timeout of every call: a `SocketTimeoutException`
    * after it reaches the caller as is. */
  val TimeoutMs = 30000
}
